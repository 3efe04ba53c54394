package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.NtpIds
import graft.enrich.Entities
import graft.functions.UnidecodeEs
import graft.ingest.Normalize
import graft.ops.{Bpe, BpeIndex, Dedup, DedupIndex, Multimodal, Pca, PqIndex, Similarity, SimilarityIndex, TextAnalysis, TextIndex}
import graft.versions.Versions

/** Training-data-pipeline + enrichment queries (SURVEY §7.6/§7.8):
  * text analysis, exact/MinHash/SimHash dedup, cosine similarity search,
  * URL harvesting, NIF validation, company enrichment, chain resolution.
  * Oracle SQL for the hash-heavy operators is generated from the same
  * constants the Spark operators use, so both engines compute identical
  * signatures. Conventions as documented on SparkEntry.
  */
object CorpusQueries {
  import SparkEntry.{t, versionsDf, versionsSelect, versionsCte}

  // overlapping of independent sub-chains (persisted-parity rows' index
  // chain / recompute twin / brute floor; the boards' trainers) rides
  // the shared daemon pool — see graft.core.Overlap's contract note
  // ("chainPool note" in the bodies below)
  import graft.core.Overlap.{all, both}

  /** The persisted-index parity row: the `served` index chain, its
    * `recomputed` twin and the brute top-5 floor run overlapped
    * (chainPool note — each is deterministic alone, so only the wall
    * moves). Flags whether served equals recomputed row for row and
    * clears 0.80 recall against the brute floor, then deletes the
    * scratch dir `tmp` both chains wrote under.
    */
  private def persistedParity(emb: org.apache.spark.sql.DataFrame,
                              q: org.apache.spark.sql.DataFrame, tmp: String,
                              served: => org.apache.spark.sql.DataFrame,
                              recomputed: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ((sv, mismatches), exact) = both({
      val (sv, rc) = both(served, recomputed)
      (sv, sv.unionByName(rc)
        .groupBy(col("qid"), col("cid"), col("rank"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") =!= 2).count())
    }, Similarity.bruteTopKExact(emb, q, "vec_id", "embedding", 5).localCheckpoint(true))
    val rec = exact
      .select(col("qid").cast("long").as("qid"), col("cid").cast("long").as("cid"))
      .join(sv.select(col("qid"), col("cid"), lit(1).as("__hit")),
        Seq("qid", "cid"), "left_outer")
      .agg(count_distinct(col("qid")).as("n_queries"),
        (sum(coalesce(col("__hit"), lit(0))) >= count(lit(1)) * lit(0.80))
          .as("recall_ge_080"))
      .withColumn("served_eq_recompute", lit(mismatches) === 0)
    new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(emb.sparkSession.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(tmp), true)
    rec
  }

  // ----------------------------------------------------------- SQL builders

  /** Tokenization CTE identical to TextAnalysis.tokens. */
  private val tkCte =
    """WITH tk AS (
      |  SELECT doc_id, text, lang,
      |         list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS toks
      |  FROM documents)""".stripMargin

  /** 3-shingle CTE identical to Dedup.shingles (docs with >= 3 tokens). */
  private val shCte = tkCte +
    """,
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM tk WHERE len(toks) >= 3)""".stripMargin

  /** MinHash signature CTE: h0..h7 (Dedup.minhash seeds 0-7). */
  private val mhCte = shCte + ",\nmh AS (\n  SELECT doc_id, " +
    (0 until 8).map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS h$k").mkString(",\n         ") +
    "\n  FROM sh)"

  /** LSH band CTE: 4 bands of 2 hashes (Dedup.bandKeysFromSignature(sig, bands=4, rowsPerBand=2)). */
  private val bandsCte = mhCte + ",\nbands AS (\n" +
    (0 until 4).map(b => s"  SELECT doc_id, $b AS band, h${2 * b} || '#' || h${2 * b + 1} AS key FROM mh")
      .mkString("\n  UNION ALL\n") + ")"

  private val candSelect =
    """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id""".stripMargin

  /** The BM25 recompute in SQL (rational idf, fixed-order pivot sum) —
    * oracle for BOTH txt_bm25_topk (tokenize per query) and
    * txt_bm25_indexed (persisted postings probe): the two Spark paths
    * share one arithmetic core, so one SQL recompute gates both.
    */
  private val bm25OracleSql = tkCte +
    """,
      |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
      |stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
      |tf AS (SELECT doc_id, tok, count(*) AS tf
      |       FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
      |       WHERE tok IN ('spark', 'vector', 'merge', 'stream')
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |contrib AS (SELECT f.doc_id, f.tok,
      |  ((CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5::DOUBLE) / (CAST(d.df AS DOUBLE) + 0.5::DOUBLE)) *
      |  ((CAST(f.tf AS DOUBLE) * (1.2::DOUBLE + 1.0::DOUBLE)) /
      |   (CAST(f.tf AS DOUBLE) + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * (CAST(l.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))) AS c
      |  FROM tf f JOIN dfq d USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats s),
      |piv AS (SELECT doc_id,
      |  max(CASE WHEN tok = 'spark' THEN c END) AS c0,
      |  max(CASE WHEN tok = 'vector' THEN c END) AS c1,
      |  max(CASE WHEN tok = 'merge' THEN c END) AS c2,
      |  max(CASE WHEN tok = 'stream' THEN c END) AS c3
      |  FROM contrib GROUP BY doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |       coalesce(c0, 0.0::DOUBLE) + coalesce(c1, 0.0::DOUBLE) + coalesce(c2, 0.0::DOUBLE) + coalesce(c3, 0.0::DOUBLE) AS score
      |FROM piv ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** Rounds of the unrolled learned-BPE training oracle (matches
    * [[graft.ops.Bpe]]: byte-mapped pre-tokens, leading-space symbol
    * sequences, greedy replace application, (count DESC, lhs, rhs)
    * tie-break).
    */
  private val BpeMerges = 12

  /** Deterministic decoration the BPE queries append to the fixture
    * text so digits, ASCII punctuation, UPPERCASE and multi-byte UTF-8
    * (« ó » º € §) flow through the byte-level alphabet under the hash
    * gate — the fixture corpus itself is pure lowercase a-z + spaces,
    * which would leave the 230 non-[a-z] base bytes un-exercised. The
    * SAME concat runs in both engines (doc_id renders identically).
    */
  private[graft] val BpeAugB = "! «Canción» nº"
  // the accented/digit words repeat enough to push multibyte and digit
  // PAIRS into the 12 trained merges — the byte-level trainer itself is
  // then under the hash gate, not just the encode path
  private val BpeAugC = ", 3.14€ §" + " Canción 2024" * 5
  private[graft] def bpeAugText: org.apache.spark.sql.Column =
    concat(col("text"), lit(" Doc-"), col("doc_id").cast("string"),
      lit(BpeAugB), (col("doc_id") % 7).cast("string"), lit(BpeAugC))
  private def bpeAugTextSql: String =
    s"text || ' Doc-' || CAST(doc_id AS VARCHAR) || '$BpeAugB' || " +
      s"CAST(doc_id % 7 AS VARCHAR) || '$BpeAugC'"

  /** Training CTEs w0..wN / m1..mN over the augmented `documents` text
    * with an optional WHERE on the training slice, PLUS the byte-level
    * alphabet plumbing every BPE oracle shares:
    *
    *  - `bm` — the 256-row byte → mapped-char relation
    *    ([[graft.ops.ByteAlphabet.duckdbMapRelation]], chr()-built so
    *    the SQL carries no quoting hazards);
    *  - `rwall` — (doc_id, wpos, rword): every RAW pre-token of every
    *    document in order (the regex constant is shared with Spark —
    *    \p{L}/\p{N} + an explicit whitespace class keep Java and RE2
    *    identical);
    *  - `wmap` — rword → byte-mapped word: the word's UTF-8 bytes via
    *    hex(encode(..)) pairs joined against bm, reassembled in byte
    *    order — DuckDB's spelling of [[graft.functions.ByteMap]];
    *  - `dw` — the (possibly sliced) mapped training word stream.
    *
    * m/w CTEs are MATERIALIZED: every round references its predecessor
    * twice and inlining would expand the chain exponentially.
    */
  private def bpeTrainCtes(trainWhere: String): String = {
    val rounds = (1 to BpeMerges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS c FROM (
         |  SELECT cnt, lst[gi] AS x, lst[gi+1] AS y FROM (
         |    SELECT cnt, lst, unnest(generate_series(1, len(lst)-1)) AS gi
         |    FROM (SELECT cnt, string_split(substr(replace(seq, '|', ''), 2), ' ') AS lst FROM $prev))) t
         |  GROUP BY x, y),
         |m$i AS MATERIALIZED (SELECT x, y, c FROM p$i ORDER BY c DESC, x, y LIMIT 1),
         |w$i AS MATERIALIZED (SELECT w.word, w.cnt,
         |  replace(w.seq, ' '||m.x||'| '||m.y||'|', ' '||m.x||m.y||'|') AS seq FROM $prev w, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""WITH bm AS (SELECT * FROM ${graft.ops.ByteAlphabet.duckdbMapRelation}),
       |rwall AS (SELECT doc_id, gi AS wpos, ws[gi] AS rword FROM (
       |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS gi FROM (
       |    SELECT doc_id, regexp_extract_all($bpeAugTextSql, '${graft.ops.Bpe.PreTokenRegex}') AS ws
       |    FROM documents))),
       |rwb AS (SELECT rword, gi, substr(hx, CAST(2*gi-1 AS INT), 2) AS h2 FROM (
       |  SELECT rword, hex(encode(rword)) AS hx,
       |         unnest(generate_series(1, CAST(octet_length(encode(rword)) AS BIGINT))) AS gi
       |  FROM (SELECT DISTINCT rword FROM rwall))),
       |wmap AS MATERIALIZED (SELECT rword, string_agg(bm.mc, '' ORDER BY rwb.gi) AS word
       |  FROM rwb JOIN bm ON rwb.h2 = bm.hx GROUP BY rword),
       |dw AS (SELECT w.word FROM rwall r JOIN wmap w ON r.rword = w.rword$trainWhere),
       |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt,
       |       regexp_replace(word, '(.)', ' \\1|', 'g') || ' </w>|' AS seq
       |       FROM dw GROUP BY word),
       |$rounds""".stripMargin
  }

  /** The merge list applied to `v.seq` as nested replaces against the
    * one-row m1..mN CTEs — identical fold order to [[graft.ops.Bpe.applySeq]].
    */
  private lazy val bpeApplyExpr: String =
    (1 to BpeMerges).foldLeft("v.seq")((e, i) =>
      s"replace($e, ' '||m$i.x||'| '||m$i.y||'|', ' '||m$i.x||m$i.y||'|')")

  /** 64-bit SimHash expression over exploded token hashes (matches
    * Dedup.simhashBits bit-for-bit: MSB-first hex nibbles of md5[1..16]).
    */
  private val simhashSigExpr = (0 until 64).map { b =>
    val hexPos = b / 4 + 1
    val mask = 8 >> (b % 4)
    s"(CASE WHEN sum(CASE WHEN ((instr('0123456789abcdef', substr(h, $hexPos, 1)) - 1) & $mask) > 0 THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END)"
  }.mkString(" || ")

  private val simhashCte = tkCte +
    s""",
       |ex AS (SELECT doc_id, substr(md5(tok), 1, 16) AS h
       |       FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)),
       |sg AS (SELECT doc_id, $simhashSigExpr AS sig FROM ex GROUP BY doc_id)""".stripMargin

  private val hammingExpr =
    (1 to 64).map(i => s"(CASE WHEN substr(sa, $i, 1) <> substr(sb, $i, 1) THEN 1 ELSE 0 END)").mkString(" + ")

  /** Exact decimal-accumulated dot product, kept in decimal space
    * (matches Similarity.dotExactDec — no double appears in comparisons).
    */
  private def dotDecSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1,65), i -> CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(25,15))))"

  /** [[dotDecSql]] with a constant double weight folded into each term
    * BEFORE the decimal cast (matches Similarity.dotExactDecScaled):
    * weighting the summed dot instead would overflow decimal(38,15)'s
    * precision cap and silently degrade the comparison to double.
    */
  private def dotDecScaledSql(a: String, b: String, w: String): String =
    s"list_sum(list_transform(range(1,65), i -> CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * CAST($w AS DOUBLE) AS DECIMAL(25,15))))"

  /** Shared by sim_ivf_topk and sim_ivf_int8_topk: the int8 tier's coarse
    * gate is margin-absorbed and its exact-decimal decider sees the full
    * vectors, so both must produce exactly this ranking.
    */
  private lazy val ivfOracleSql: String =
    s"""WITH cent AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |ass AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.ccid AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotDecSql("e.embedding", "c.cv")} DESC, c.ccid ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
       |qp AS (SELECT vec_id AS qid, cell FROM (
       |  SELECT e.vec_id, c.ccid AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotDecSql("e.embedding", "c.cv")} DESC, c.ccid ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 50 = 0) t WHERE rn <= 2),
       |scored AS (SELECT qp.qid, a.vec_id AS cid,
       |         row_number() OVER (PARTITION BY qp.qid
       |           ORDER BY ${dotDecSql("qe.embedding", "ce.embedding")} DESC, a.vec_id ASC) AS rank
       |  FROM qp JOIN ass a ON qp.cell = a.cell
       |  JOIN embeddings qe ON qp.qid = qe.vec_id
       |  JOIN embeddings ce ON a.vec_id = ce.vec_id
       |  WHERE qp.qid <> a.vec_id)
       |SELECT qid, cid, CAST(rank AS BIGINT) AS rank FROM scored
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The greedy MMR recurrence, unrolled: pool = exact-dot top-10 per
    * query; round 1 picks max rel; each later round max-joins the
    * (1−λ)-weighted pair dots against the selected set and picks the
    * best λ·rel − (1−λ)·maxsim survivor. All decisions are single
    * exact-decimal comparisons, so the unrolled SQL must reproduce the
    * Spark loop bit-for-bit. Shared by sim_mmr_topk (brute pool) and
    * sim_mmr_indexed (recall-complete IVF-SQ8 pool: identical pool
    * membership by construction, so the identical ranking).
    */
  private lazy val mmrOracleSql: String = {
    def round(r: Int): String =
      s"""s$r AS (SELECT qid, cid, CAST($r AS BIGINT) AS rank FROM (
         |  SELECT p.qid, p.cid, row_number() OVER (PARTITION BY p.qid
         |    ORDER BY (p.rel_w - m.ms) DESC, p.cid) AS rn
         |  FROM pool p
         |  JOIN (SELECT pd.qid, pd.cand, max(pd.sim_w) AS ms
         |        FROM pd JOIN sel${r - 1} s ON pd.qid = s.qid AND pd.other = s.cid
         |        GROUP BY pd.qid, pd.cand) m
         |    ON p.qid = m.qid AND p.cid = m.cand
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s2
         |                    WHERE s2.qid = p.qid AND s2.cid = p.cid)) t
         |  WHERE rn = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       |scored AS (SELECT q.qid, c.vec_id AS cid, c.embedding AS cv,
       |    ${dotDecSql("q.qv", "c.embedding")} AS rel,
       |    ${dotDecScaledSql("q.qv", "c.embedding", "0.7")} AS rel_w
       |  FROM q JOIN embeddings c ON q.qid <> c.vec_id),
       |pool AS (SELECT qid, cid, cv, rel, rel_w FROM (
       |  SELECT qid, cid, cv, rel, rel_w,
       |         row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rnk
       |  FROM scored) t WHERE rnk <= 10),
       |pd AS (SELECT a.qid, a.cid AS cand, b.cid AS other,
       |    ${dotDecScaledSql("a.cv", "b.cv", "0.3")} AS sim_w
       |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.cid <> b.cid),
       |s1 AS (SELECT qid, cid, CAST(1 AS BIGINT) AS rank FROM (
       |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
       |  FROM pool) t WHERE rn = 1),
       |sel1 AS (SELECT * FROM s1),
       |${(2 to 5).map(round).mkString(",\n")}
       |SELECT qid, cid, rank FROM sel5 ORDER BY qid, rank""".stripMargin
  }

  /** The brute edit-distance-2 probe-vs-master resolution, shared by the
    * recompute lookup and the persisted-index probe (the candidate
    * filter is lossless either way round and the verify exact, so both
    * must reproduce this bit-for-bit; DuckDB's levenshtein is the same
    * unit-cost Wagner-Fischer as Spark's).
    */
  private lazy val fuzzyLookupOracleSql: String =
    """WITH p AS (SELECT c_custkey + 1000000 AS probe_id,
      |                  replace(c_name, '1', '7') AS p_name
      |           FROM customer WHERE c_custkey % 100 = 0)
      |SELECT p.probe_id, c.c_custkey AS ref_id,
      |       CAST(levenshtein(p.p_name, c.c_name) AS BIGINT) AS dist
      |FROM p JOIN customer c ON levenshtein(p.p_name, c.c_name) <= 2
      |ORDER BY probe_id, ref_id""".stripMargin

  /** Hashed-TF bucket rows (matches TextAnalysis.hashedTf: bucket =
    * first 3 hex nibbles of md5(token), 0..4095).
    */
  private val hashedTfCte = tkCte +
    """,
      |tfb AS (SELECT doc_id,
      |  (instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 256
      |  + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 16
      |  + (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) AS bucket
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tk))""".stripMargin

  /** Full from-scratch recompute of the PCA first/second moment sums on
    * the same scale-15 decimal grid as Pca.moments, floor-scaled to an
    * exact integer — shared by pca_moments (one-pass) and
    * pca_moments_incremental (merged per-drop segments + retraction):
    * decimal addition is exact, so both must reproduce it bit-for-bit.
    */
  private val pcaMomentsOracleSql: String =
    """WITH idx AS (SELECT CAST(unnest(range(0, 64)) AS INTEGER) AS i),
      |pr AS (SELECT x.i AS i, y.i AS j FROM idx x JOIN idx y ON x.i <= y.i),
      |sec AS (SELECT pr.i AS i, pr.j AS j,
      |  CAST(floor(1000000 * sum(CAST(CAST(e.embedding[pr.i + 1] AS DOUBLE) * CAST(e.embedding[pr.j + 1] AS DOUBLE) AS DECIMAL(25,15)))) AS BIGINT) AS s2_scaled,
      |  count(*) AS n
      |  FROM embeddings e CROSS JOIN pr GROUP BY pr.i, pr.j),
      |fst AS (SELECT idx.i AS i, CAST(-1 AS INTEGER) AS j,
      |  CAST(floor(1000000 * sum(CAST(CAST(e.embedding[idx.i + 1] AS DOUBLE) AS DECIMAL(25,15)))) AS BIGINT) AS s2_scaled,
      |  count(*) AS n
      |  FROM embeddings e CROSS JOIN idx GROUP BY idx.i)
      |SELECT i, j, s2_scaled, n FROM fst
      |UNION ALL SELECT i, j, s2_scaled, n FROM sec
      |ORDER BY i, j""".stripMargin

  /** Hyperplane bucket (matches Similarity.hyperplaneBucket(nBits=4, dim=64)). */
  private def bucketSql(vec: String): String =
    Similarity.hyperplaneSigns(4, 64).map { sv =>
      val lst = sv.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1,65), i -> CAST(CAST($vec[i] AS DOUBLE) * ($lst)[i] AS DECIMAL(25,15)))) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  private def swList(lang: String): String =
    TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  /** DSIR recompute (shared by txt_dsir_weights and its incremental
    * twin — merged count segments must reproduce the one-shot model
    * exactly).
    */
  /** The DSIR weight computation as a CTE (`dw`): shared by the weight
    * queries and the resampling composition.
    */
  private val dsirCoreCte = tkCte +
    """,
      |bgf AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
      |  unnest(list_transform(range(2, len(toks) + 1),
      |    i -> toks[i-1] || ' ' || toks[i])) AS bg
      |  FROM tk WHERE len(toks) >= 2),
      |bkt AS (SELECT doc_id, tgt,
      |  ((instr('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 4096
      |  + (instr('0123456789abcdef', substr(md5(bg), 2, 1)) - 1) * 256
      |  + (instr('0123456789abcdef', substr(md5(bg), 3, 1)) - 1) * 16
      |  + (instr('0123456789abcdef', substr(md5(bg), 4, 1)) - 1)) % 4096 AS b
      |  FROM bgf),
      |cnt AS (SELECT b, count(*) AS cr, sum(tgt) AS ct FROM bkt GROUP BY b),
      |tot AS (SELECT count(*) AS tr, sum(tgt) AS tt FROM bkt),
      |model AS (SELECT b,
      |    CAST((1000000 * (ct + 1)) // (tt + 4096) AS BIGINT)
      |  - CAST((1000000 * (cr + 1)) // (tr + 4096) AS BIGINT) AS delta
      |  FROM cnt CROSS JOIN tot),
      |dw AS (SELECT doc_id AS doc, count(*) AS n_bigrams,
      |       CAST(sum(delta) AS BIGINT) AS dsir_w
      |       FROM bkt JOIN model USING (b) GROUP BY doc_id)""".stripMargin

  private val dsirOracleSql = dsirCoreCte +
    "\nSELECT doc, n_bigrams, dsir_w FROM dw ORDER BY doc"

  /** One signSGD training round of the quality classifier as SQL, given
    * the previous round's weight CTE `prev` (b, w): per-doc mean-weight
    * logit (flooring //), hard-sigmoid error on the 10^6 grid, per-doc
    * gradient contribution c = err // n, bucket gradient sum, sign step.
    * g covers every bucket in st (each joins some doc), so the JOIN to
    * prev loses nothing — the CTE chain replays QualityClassifier.train
    * round by round, the way the BPE oracle replays merge rounds.
    */
  private def clfRoundCte(r: Int, prev: String, step: Long): String =
    s""",
       |s$r AS (SELECT st.doc, sum(COALESCE($prev.w, 0)) AS sw
       |        FROM st LEFT JOIN $prev USING (b) GROUP BY st.doc),
       |d$r AS (SELECT dn.doc,
       |          (greatest(0, least(1000000, ((sw // n) // 4) + 500000)) - y * 1000000) // n AS c
       |        FROM dn JOIN s$r USING (doc)),
       |g$r AS (SELECT b, sum(c) AS g FROM st JOIN d$r USING (doc) GROUP BY b),
       |w$r AS (SELECT b, $prev.w + (CASE WHEN g > 0 THEN -$step WHEN g < 0 THEN $step ELSE 0 END) AS w
       |        FROM g$r JOIN $prev USING (b))""".stripMargin

  /** The classifier feature stream + the unrolled 3-round replay up to
    * the final weights `w3`, SANS the leading token CTE (so it can ride
    * behind either tkCte or bandsCte). Round 1 inlines w0 = 0 (z = 0,
    * p = 1/2). `where` narrows the training slice (e.g. the pipeline's
    * 90% train split).
    */
  private def clfChain(where: String): String =
    s""",
      |bgc AS (SELECT doc_id AS doc, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |  unnest(list_transform(range(2, len(toks) + 1),
      |    i -> toks[i-1] || ' ' || toks[i])) AS bg
      |  FROM tk WHERE len(toks) >= 2$where),
      |st AS (SELECT DISTINCT doc, y,
      |  ((instr('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 4096
      |  + (instr('0123456789abcdef', substr(md5(bg), 2, 1)) - 1) * 256
      |  + (instr('0123456789abcdef', substr(md5(bg), 3, 1)) - 1) * 16
      |  + (instr('0123456789abcdef', substr(md5(bg), 4, 1)) - 1)) % 4096 AS b
      |  FROM bgc),
      |dn AS (SELECT doc, y, count(*) AS n FROM st GROUP BY doc, y),
      |d1 AS (SELECT doc, (500000 - y * 1000000) // n AS c FROM dn),
      |g1 AS (SELECT b, sum(c) AS g FROM st JOIN d1 USING (doc) GROUP BY b),
      |w1 AS (SELECT b, CAST(CASE WHEN g > 0 THEN -250000 WHEN g < 0 THEN 250000 ELSE 0 END AS BIGINT) AS w FROM g1)""".stripMargin +
    clfRoundCte(2, "w1", 125000L) + clfRoundCte(3, "w2", 62500L)

  private val clfCoreCte = tkCte + clfChain("")

  /** The numeric value of a %-escape's two hex digits, for a DuckDB
    * lambda whose variable is `s` (the split-on-% segment) — the same
    * instr-arithmetic trick the md5 bucket CTEs use.
    */
  private val urlHexCode =
    "((instr('0123456789abcdef', substr(lower(s), 1, 1)) - 1) * 16" +
      " + (instr('0123456789abcdef', substr(lower(s), 2, 1)) - 1))"

  /** RFC 3986 §6.2.2 escape normalization of one URL component as
    * DuckDB SQL (the CanonicalUrl twin): split on '%', then per
    * segment — a valid leading hex pair of an UNRESERVED byte (ALPHA /
    * DIGIT / - . _ ~) decodes to its char, any other valid pair keeps
    * '%' + uppercased hex, a malformed segment keeps its bare '%'.
    */
  private def urlPctSql(x: String): String =
    s"""CASE WHEN strpos($x, '%') = 0 THEN $x ELSE
       |    string_split($x, '%')[1] ||
       |    list_aggregate(list_transform(string_split($x, '%')[2:], s ->
       |      CASE WHEN regexp_matches(s, '^[0-9a-fA-F]{2}')
       |           THEN CASE WHEN ($urlHexCode BETWEEN 48 AND 57) OR ($urlHexCode BETWEEN 65 AND 90)
       |                       OR ($urlHexCode BETWEEN 97 AND 122) OR $urlHexCode IN (45, 46, 95, 126)
       |                THEN chr(CAST($urlHexCode AS INTEGER)) || substr(s, 3)
       |                ELSE '%' || upper(substr(s, 1, 2)) || substr(s, 3) END
       |           ELSE '%' || s END),
       |      'string_agg', '') END""".stripMargin

  /** The default tracking-param drop predicate over a DuckDB lambda
    * variable `s` holding one `name[=value]` query param.
    */
  private val urlDropSql =
    "(starts_with(lower(split_part(s, '=', 1)), 'utm_')" +
      " OR starts_with(lower(split_part(s, '=', 1)), 'mc_')" +
      " OR lower(split_part(s, '=', 1)) IN ('gclid','fbclid','msclkid','yclid','igshid'))"

  /** Bigram-LM scoring recompute (shared by txt_lm_score and its
    * incremental twin — merged count segments must reproduce this
    * exactly).
    */
  private val lmScoreSql = tkCte +
    """,
      |bgf AS (
      |  SELECT doc_id, b.prev AS prev, b.cur AS cur
      |  FROM (SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
      |          i -> struct_pack(prev := toks[i-1], cur := toks[i]))) AS b
      |        FROM tk WHERE len(toks) >= 2)),
      |c2 AS (SELECT prev, cur, count(*) AS c2 FROM bgf GROUP BY prev, cur),
      |c1 AS (SELECT prev, count(*) AS c1 FROM bgf GROUP BY prev),
      |sc AS (SELECT c2.prev, c2.cur, CAST((1000000 * c2.c2) // c1.c1 AS BIGINT) AS ppm
      |       FROM c2 JOIN c1 USING (prev)),
      |d AS (SELECT doc_id, count(*) AS n_bigrams, sum(ppm) AS sum_ppm
      |      FROM bgf JOIN sc USING (prev, cur) GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, CAST(sum_ppm // n_bigrams AS BIGINT) AS avg_ppm
      |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text analysis: token count + rolling hash + canonical fingerprint
    "txt_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          TextAnalysis.rollingHashT(col("__toks")).as("rhash"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // text analysis: stopword-vote language id vs labeled lang
    "txt_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_label"))
        .orderBy(col("doc_id"))
    }),

    // text analysis: heuristic quality score
    "txt_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // persisted per-doc text stats with churn-proportional refresh: the
    // text tier's sidecar (one tokenize pass per CHANGED doc, unchanged
    // rows carry verbatim). Drop 1 indexes 4/5 of the corpus; the full
    // corpus then refreshes (churn = the % 5 == 0 docs) and the served
    // table must hash-match the from-scratch recompute oracle
    "txt_stats_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_txtidx_q").toString
      val idx = tmp + "/txtstats"
      TextIndex.build(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", idx)
      TextIndex.refresh(docs, "doc_id", "text", idx)
      val out = TextIndex.serve(s, idx)
        .orderBy(col("doc"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // corpus vocabulary heavy hitters: exact global top-20 tokens —
    // groupBy(token) map-side combines, then a global TakeOrdered; the
    // shuffle carries (token, partial count), never documents
    "txt_top_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    }),

    // RAG/embedding-layout overlapping chunking: 64-token windows every
    // 48 tokens (16 tokens of shared context), per-row Column algebra
    // exploded to one row per chunk; tail chunks run short by design
    "txt_chunk_overlap" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.chunkTokens(col("text"), 64, 48)).as("c"))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("c.chunk_id").as("chunk_id"), col("c.chunk").as("chunk"),
          col("c.n_tokens").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // BM25 probe-query relevance ranking (rational idf — no ln, which is
    // libm-dependent; every parenthesis mirrored in the oracle so the
    // doubles are bit-identical). Everything past the term filter is
    // posting-list-sized: the inverted-index probe as dataframes.
    "txt_bm25_topk" -> ((s, dir) => {
      graft.ops.Relevance.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "vector", "merge", "stream"))
        .select(col("doc_id").cast("long").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
    }),

    // BM25 from the PERSISTED postings index (PostingsIndex, the
    // search-engine posture: build once, refresh on churn, probe many
    // times): build on a 60% slice, fingerprint-gated refresh to the
    // full corpus, then probe the same terms — the probe plan reads
    // posting lists + doclen only (never the corpus text) yet must
    // hash-match the tokenize-per-query recompute oracle exactly
    "txt_bm25_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_postings_q").toString
      val idx = tmp + "/bm25_idx"
      graft.ops.PostingsIndex.build(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", idx)
      graft.ops.PostingsIndex.refresh(docs, "doc_id", "text", idx)
      val out = graft.ops.PostingsIndex.bm25(s, idx, Seq("spark", "vector", "merge", "stream"))
        .select(col("doc").cast("long").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // corpus-trained bigram LM fluency score (KenLM-shaped, in-domain
    // perplexity proxy) on the integer ppm grid — rare token
    // transitions drag a document's average conditional likelihood
    // down. Counts aggregate over the bigram domain, never raw rows
    "txt_lm_score" -> ((s, dir) => {
      graft.ops.Relevance.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // incremental form of the LM tier: the bigram model is a SUMMABLE
    // count table, so three "monthly drops" each land one
    // aggregate-sized count segment and the merged model scores the
    // corpus — bit-identical to the from-scratch recompute (same oracle
    // SQL as txt_lm_score). Model maintenance is O(drop), not O(corpus)
    "txt_lm_incremental" -> ((s, dir) => {
      import graft.ops.Relevance
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_lmseg_q").toString
      val path = tmp + "/lm"
      SparkEntry.parDrops(0 to 2) { d =>
        Relevance.landLmDrop(docs.filter(pmod(col("doc_id"), lit(3)) === d),
          "doc_id", "text", path, s"drop$d")
      }
      val out = Relevance.scoreAgainstCounts(docs, "doc_id", "text",
          Relevance.serveLmCounts(s, path))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // the scratch segments are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // the curation GATE the signals exist for: heuristic quality AND
    // corpus-LM fluency compose into one keep/cut decision, counted per
    // source — both signals recomputed end-to-end by the oracle, so the
    // composition itself (join, null handling for sub-2-token docs,
    // threshold compare) sits under the hash gate
    "q_quality_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.ops.Relevance.bigramLmScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_ppm"))
      docs.select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("__q"))
        .join(lm, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("__q") >= 0.55 &&
              coalesce(col("avg_ppm"), lit(0L)) >= 33000L, 1L).otherwise(0L))
            .as("n_kept"))
        .orderBy(col("source"))
    }),

    // compression-ratio quality signal (deflate level 6 via the native
    // DeflateLen kernel — the Gopher/C4 Kolmogorov-proxy filter). SQL
    // engines can't deflate, so the driver row is a CONTRACT query:
    // n_docs is exact and the per-source ratio envelope booleans flip
    // the row red if the kernel ever drifts out of the corpus's
    // measured [37..100] band (generous margins for codec variation);
    // the precise per-string semantics are spec-pinned in FunctionsSpec
    "txt_compress_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), TextAnalysis.compressRatioPct(col("text")).as("__r"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), min(col("__r")).as("__mn"),
          max(col("__r")).as("__mx"), sum(col("__r")).as("__sum"))
        .select(col("source"), col("n_docs"),
          (col("__mn") >= 20 && col("__mn") <= 70).as("min_in_range"),
          (col("__mx") >= 30 && col("__mx") <= 110).as("max_in_range"),
          (expr("__sum div n_docs") >= 35 && expr("__sum div n_docs") <= 75)
            .as("avg_in_range"))
        .orderBy(col("source"))
    }),

    // PII scrub pass: per-class counts + fingerprint of the redacted
    // text (the corpus here is PII-free by construction, so counts are
    // zero and the redacted fingerprint equals the lowercased-text md5 —
    // the cross-engine regex plumbing is what the row proves; the
    // redaction semantics themselves are spec-tested on PII-rich text)
    "txt_redact_pii" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.piiCounts(col("text")).as("__p"),
          md5(TextAnalysis.redactPii(col("text"))).as("redacted_fp"))
        .select(col("doc_id"),
          col("__p.n_emails").cast("long").as("n_emails"),
          col("__p.n_ipv4").cast("long").as("n_ipv4"),
          col("__p.n_phones").cast("long").as("n_phones"),
          col("redacted_fp"))
        .orderBy(col("doc_id"))
    }),

    // LEARNED-BPE training (Sennrich et al. 2016): 12 distributed
    // merge-pair rounds over the word-frequency table — the corpus is
    // scanned ONCE (the word-count aggregate); every round is a
    // vocab-sized pair count + a one-row driver argmax + a string
    // rewrite. The oracle recomputes all 12 rounds as unrolled
    // MATERIALIZED CTEs, so greedy selection, left-to-right merge
    // application, and tie-breaking are all under the hash gate
    "txt_bpe_train" -> ((s, dir) => {
      Bpe.mergesDf(s, Bpe.train(
          t(s, dir, "documents").withColumn("text", bpeAugText), "text", 12))
        .orderBy(col("merge_rank"))
    }),

    // the learned tokenizer SERVED from its persisted artifact — the
    // pinned-vocab journey: train on the first two "drops" (doc_id%3<>2)
    // and pin the merges, refresh the word cache when the third drop
    // lands (new words tokenize under the PINNED merges — no retrain),
    // then serve learned token counts for the whole corpus. These are
    // the counts packing/token-budget decisions should consume
    "txt_bpe_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text", bpeAugText)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_q").toString
      val path = tmp + "/bpe"
      BpeIndex.build(docs.filter(pmod(col("doc_id"), lit(3)) =!= 2), "text", path, 12)
      BpeIndex.refresh(docs, "text", path)
      val out = BpeIndex.tokenCounts(docs, "doc_id", "text", path)
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // pinned-vocab token-ID streams (round-15 verdict stretch): the
    // shape a trainer actually consumes. Encoding rides the NATIVE
    // BpeEncode expression (id emission has no oracle-shared fold
    // form), so this query puts the compiled encoder itself under the
    // DuckDB hash gate: ids are '</w>'=0, 'a'..'z'=1..26, merged =
    // 26 + min rank producing the string — recomputed in SQL via the
    // same CASE + min-rank vocab join
    "txt_bpe_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text", bpeAugText)
      val merges = Bpe.train(docs, "text", 12)
      Bpe.encodeDocsIds(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id").cast("long").as("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // the tokenizer ROUND TRIP under the hash gate: train 12 merges,
    // encode every augmented document to pinned-vocab ids via the
    // native expressions, decode the ids back — the result must equal
    // the raw pre-token stream joined with spaces, which the oracle
    // states WITHOUT replaying any merge (regexp_extract_all + join):
    // one equality pinning byte_map, the encoder, the id scheme and
    // the decoder as mutually-inverse ends of one pipeline
    "txt_bpe_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text", bpeAugText)
      val merges = Bpe.train(docs, "text", 12)
      Bpe.encodeDocsIds(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          Bpe.decodeIds(col("token_ids"), merges).as("detok"),
          size(col("token_ids")).cast("long").as("n_ids"))
        .orderBy(col("doc_id"))
    }),

    // token counting both ways: whitespace words vs BPE-ish regex
    // segments (contractions, digit runs and punctuation runs count
    // separately — the truer LLM-token-budget proxy)
    "txt_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signals: modal-token fraction + duplicate
    // bi/trigram fractions — per-row array algebra, shuffle-free,
    // scan-bound at 100 TB like the other text kernels
    "txt_repetition" -> ((s, dir) => {
      // tokenize ONCE in a prior projection: inlining tokens(text) into
      // every signal repeats the split+filter ~20x per row in the
      // interpreted HOF expression tree (plan-audited)
      val toks = col("__toks")
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          TextAnalysis.topTokenFrac(toks).as("top_token_frac"),
          TextAnalysis.dupNgramFrac(toks, 2).as("dup_bigram_frac"),
          TextAnalysis.dupNgramFrac(toks, 3).as("dup_trigram_frac"))
        .withColumn("repetitive",
          col("top_token_frac") > 0.125 || col("dup_bigram_frac") > 0.2 ||
            col("dup_trigram_frac") > 0.15)
        .orderBy(col("doc_id"))
    }),

    // the dataset card: per-source / per-lang / overall corpus stats in
    // one GROUPING SETS pass — every aggregate order-independent
    // (counts, int64 token sums, min/max), no double sums anywhere
    "q_corpus_summary" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"))
        .createOrReplaceTempView("docs_cs")
      s.sql(
        """SELECT coalesce(source, '(all)') AS dim_source,
          |       coalesce(lang, '(all)') AS dim_lang,
          |       count(*) AS n_docs,
          |       sum(__nt) AS n_tokens,
          |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
          |FROM docs_cs
          |GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())
          |ORDER BY dim_source, dim_lang""".stripMargin)
    }),

    // deterministic content-hash output sharding + the balance report:
    // per-shard doc/token totals (shard = first md5 hex digit, so the
    // assignment is engine/run/partitioning-reproducible)
    "q_shard_assign" -> ((s, dir) => {
      graft.ops.Curation.assignShards(t(s, dir, "documents"), "text")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy(col("shard"))
    }),

    // LLM-pretraining sequence packing: concat-and-chunk per source shard
    // (TextAnalysis.packSequences) — bin/offset from one exclusive
    // prefix-sum window per shard
    "q_pack_sequences" -> ((s, dir) => {
      TextAnalysis.packSequences(t(s, dir, "documents"),
          "source", "doc_id", "text", budget = 512)
        .orderBy(col("source"), col("doc_id"))
    }),

    // packing driven by LEARNED tokens: the same concat-and-chunk
    // layout, but the budget axis is the trained-BPE token count, not
    // the whitespace proxy — what a production loader actually packs
    // on. Docs with no [a-z] pre-token pack as zero-length (coalesce),
    // exactly like null text in the proxy tier
    "q_pack_sequences_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text", bpeAugText)
      val merges = Bpe.train(docs, "text", 12)
      val counts = docs.select(col("source"), col("doc_id"))
        .join(Bpe.docTokenCounts(docs, "doc_id", "text", merges),
          Seq("doc_id"), "left_outer")
      TextAnalysis.packSequencesOn(counts, "source", "doc_id",
          "n_bpe_tokens", budget = 512)
        .orderBy(col("source"), col("doc_id"))
    }),

    // the no-straddle packing discipline: first-fit bins, a document
    // never splits across a bin boundary — one ordered fold per shard
    // (sequential recurrence, not a prefix sum)
    "q_pack_nostraddle" -> ((s, dir) => {
      TextAnalysis.packSequencesFirstFit(t(s, dir, "documents"),
          "source", "doc_id", "text", budget = 512)
        .orderBy(col("source"), col("doc_id"))
    }),

    // systematic PPS sampling with multiplicity: documents sampled
    // proportionally to char mass on the exact-integer cumulative axis
    // (a doc heavier than the step repeats — the "epochs ∝ weight"
    // primitive); the global prefix sum is range-partitioned + driver-
    // folded offsets, never a single-partition window
    "q_sample_pps" -> ((s, dir) => {
      graft.ops.Curation.samplePps(
          t(s, dir, "documents").select(col("doc_id"), length(col("text")).as("w")),
          "doc_id", "w", step = 997L)
        .orderBy(col("doc_id"))
    }),

    // deterministic corpus shuffle for training order: hash-of-id
    // positions 0..n-1 + round-robin shard striping, assigned by range
    // partition + per-partition zip (the W1 posture, no global sort)
    "q_shuffle_order" -> ((s, dir) => {
      graft.ops.Curation.shuffleOrder(t(s, dir, "documents"), "doc_id", nShards = 16)
        .orderBy(col("pos"))
    }),

    // deterministic stratified sample: 10 docs per language by content-
    // hash order (uniform AND engine/run/partitioning-reproducible — no
    // rand() anywhere)
    "q_sample_stratified" -> ((s, dir) => {
      graft.ops.Curation.sampleStratified(
          t(s, dir, "documents"), "lang", "doc_id", "text", n = 10)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // unicode canonicalization ahead of exact dedup: a decomposed prefix
    // (combining acute/tilde) NFC-composes to the same md5 as the
    // composed spelling — cross-engine via the native NfcNormalize
    // kernel vs DuckDB's nfc_normalize. delta counts the combining
    // marks the composition absorbed.
    "txt_nfc_dedup" -> ((s, dir) => {
      // explicit escapes: an editor or formatter that NFC-normalizes
      // the source would silently compose an inline literal and turn
      // this query into a no-op (delta 0) — invisible in review
      val raw = concat(lit("Jose\u0301 nin\u0303o "), col("text"))
      val norm = graft.functions.NfcNormalize.nfc_normalize(raw)
      t(s, dir, "documents")
        .select(col("doc_id"),
          (length(raw) - length(norm)).cast("long").as("delta"),
          (md5(norm) === md5(concat(lit("José niño "), col("text"))))
            .as("composed_match"))
        .orderBy(col("doc_id"))
    }),

    // data mixing: ONE global budget of 200 docs split across sources
    // proportionally to their char mass by exact-integer largest
    // remainder, then per-source admission in content-hash order —
    // Σalloc == budget, |alloc_s - ideal_s| <= 1, no floats in the
    // seat arithmetic
    "q_sample_mixture" -> ((s, dir) => {
      graft.ops.Curation.sampleMixture(
          t(s, dir, "documents"), "source", "doc_id", "text",
          rowWeight = col("n_chars").cast("long"), total = 200L)
        .select(col("source"), col("doc_id"), col("alloc"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // embedding-space diagnostics: per-label per-component exact sums
    // (class centroids = csum_nano/n/1e9 downstream). Components are
    // snapped to an integer NANO grid and summed as int64 — the same
    // exact-integer-grid rule as the money queries, because both a
    // float->decimal cast (DuckDB goes through the float's 9-digit
    // shortest repr) and a decimal->double final cast (DuckDB rounds
    // twice) diverge across engines at the last digits. Partial aggs
    // mean the shuffle carries (label, component, partial int64), never
    // vectors.
    "sim_label_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("component", "x")))
        .groupBy(col("label"), col("component"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("x").cast("double") * 1e9).cast("long")).as("csum_nano"))
        .select(col("label").cast("long").as("label"),
          col("component").cast("long").as("component"), col("n"), col("csum_nano"))
        .orderBy(col("label"), col("component"))
    }),

    // data mixing: per-source token budget, best-quality-first admission
    // (concat-and-chunk boundary semantics — the straddling doc is kept)
    "q_token_budget" -> ((s, dir) => {
      // tokenize once, derive quality AND the budget counts from the
      // materialized array (txt_repetition plan-lock rationale)
      val pre = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("source"), col("doc_id"), col("__toks"),
          TextAnalysis.qualityScoreT(col("__toks"), col("text")).as("__q"))
      graft.ops.Curation.capTokenBudgetT(pre, "source", "__toks", budget = 600,
          orderBy = Seq(col("__q").desc, col("doc_id")))
        .select(col("source"), col("doc_id"), col("n_tokens"), col("start"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // DOMAIN-level curation (the web-corpus shape): token caps at the
    // REGISTRABLE-DOMAIN granularity, not the source label — a crawl
    // where one domain spans many sources (mirrors, subdomains) must
    // budget the domain, or it dominates the mixture. The per-doc URL
    // is derived deterministically in BOTH engines (documents carry no
    // URL), host comes from the shared regexp, and the registrable
    // domain is [[Curation.registrableDomain]]'s PSL-subset rule
    // (round-16: hosts under multi-label suffixes like co.uk keep
    // their third label — the d0/d1 slices here land on .co.uk hosts,
    // so a naive last-two rule would pool them into ONE 'co.uk'
    // pseudo-domain and the oracle would red): 7 domains each pooling
    // docs from all 20 sources, so the cap provably binds at a
    // different granularity than q_token_budget's
    "q_domain_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withUrl = docs.select(col("doc_id"), col("text"),
        concat(lit("https://"), col("source"), lit(".d"),
          pmod(col("doc_id"), lit(7L)),
          when(pmod(col("doc_id"), lit(7L)) < 2, lit(".co.uk")).otherwise(lit(".org")),
          lit("/doc/"), col("doc_id")).as("url"))
      val host = regexp_extract(col("url"), "^https?://([^/]+)/", 1)
      val withDom = withUrl.select(col("doc_id"),
        graft.ops.Curation.registrableDomain(host).as("domain"),
        TextAnalysis.tokens(col("text")).as("__toks"))
      graft.ops.Curation.capTokenBudgetT(withDom, "domain", "__toks",
          budget = 900, orderBy = Seq(col("doc_id")))
        .select(col("domain"), col("doc_id"), col("n_tokens"), col("start"))
        .orderBy(col("domain"), col("doc_id"))
    }),

    // exact dedup: corpus-level duplicate stats
    "dedup_exact_stats" -> ((s, dir) => {
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_text"),
        countDistinct(TextAnalysis.fingerprintMd5(col("text"))).as("n_distinct_fp"))
    }),

    // exact dedup: keep min doc_id per group key
    "dedup_exact_keep" -> ((s, dir) => {
      t(s, dir, "documents").groupBy(col("lang"), col("n_chars"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
        .orderBy(col("lang"), col("n_chars"))
    }),

    // corpus-level span dedup (the C4 line-dedup shape): 8-token blocks
    // deduplicated ACROSS documents, min-doc_id copy survives, texts
    // reassembled in order; the global keep-decision shuffles md5
    // digests, not block text
    "dedup_spans_global" -> ((s, dir) => {
      Dedup.dedupSpansGlobal(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ANY-ALIGNMENT span dedup (Lee et al. 2022 ExactSubstr shape):
    // sliding 8-token grams, one canonical (min doc, pos) occurrence per
    // gram, every token under a non-canonical duplicated gram removed.
    // The input plants a one-token-SHIFTED copy of every 100th document
    // (derived identically by the oracle), the exact case fixed-block
    // dedup provably misses: the copy's blocks all differ from the
    // original's, but its sliding grams collide at offset one, so the
    // whole copied span is removed here while dedup_spans_global keeps
    // it. Shuffle carries md5 digests only
    "dedup_spans_anyalign" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val shifted = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("prefixtoken "), col("text")).as("text"))
      Dedup.dedupSpansAnyAlign(docs.unionByName(shifted), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // MinHash signatures (8 hashes over 3-shingles) — all 8 seed-hashes
    // fold into ONE aggregate pass over the shingle array
    "dedup_minhash_sig" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("__sh", Dedup.shingles(col("text")))
        .filter(size(col("__sh")) >= 1)
        .withColumn("__sig", Dedup.minhashSignature(col("__sh"), 8))
        .select(col("doc_id") +: (0 until 8).map(k => element_at(col("__sig"), k + 1).as(s"h$k")): _*)
        .orderBy(col("doc_id"))
    }),

    // MinHash LSH candidate pairs (4 bands x 2 rows)
    "dedup_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text", 4, 2)
        .orderBy(col("a"), col("b"))
    }),

    // Incremental near-dup dedup over a PERSISTED band index (the
    // monthly-drop posture, reference read_parquet.py:85-123): drop 1
    // (doc_id % 5 != 0) is indexed from scratch; the full corpus then
    // lands as drop 2 and the refresh signs ONLY the new docs, carrying
    // every indexed doc's band rows verbatim. Candidate pairs are served
    // from the persisted sidecar — zero signing at query time — and must
    // hash-match the from-scratch recompute oracle over the whole corpus.
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dedupidx_q").toString
      val idx = tmp + "/bandidx"
      DedupIndex.build(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", idx)
      DedupIndex.refresh(docs, "doc_id", "text", idx) // churn = the % 5 == 0 docs
      val out = DedupIndex.candidatePairs(s, idx)
        .orderBy(col("a"), col("b"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Incremental CLUSTER LABELS over the persisted index: v1 indexes a
    // PERTURBED corpus (docs %7==3 missing -> arrive later as inserts
    // that can bridge clusters; docs %11==0 carry drifted text -> their
    // refresh is an edge-removing change that can split clusters), then
    // ONE churn-gated refresh lands the true corpus. The served labels
    // must hash-match the from-scratch WITH RECURSIVE components oracle
    // over the final corpus — merges, splits, and carries all exercised.
    "dedup_cluster_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_clidx_q").toString
      val idx = tmp + "/cl"
      val v1 = docs.filter(col("doc_id") % 7 =!= 3)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" drifted placeholder"))).otherwise(col("text")))
      graft.ops.ClusterIndex.build(v1, "doc_id", "text", idx)
      graft.ops.ClusterIndex.refresh(docs, "doc_id", "text", idx)
      val out = graft.ops.ClusterIndex.serve(s, idx)
        .select(col("doc").as("doc_id"), col("label").as("component"),
          (col("doc") === col("label")).as("keep"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // n-gram Jaccard verification of the LSH candidates — the shingle
    // frame is computed ONCE, persisted, and shared by candidate
    // generation and both verification join sides (was the slowest bench
    // query when each consumer re-tokenized the corpus)
    "dedup_jaccard_verify" -> ((s, dir) => {
      val shd = t(s, dir, "documents")
        .select(col("doc_id").as("doc"), Dedup.shingles(col("text")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = Dedup.minhashCandidatesFromShingles(shd, 4, 2)
      cand.join(shd.select(col("doc").as("a"), col("sh").as("sha")), "a")
        .join(shd.select(col("doc").as("b"), col("sh").as("shb")), "b")
        .select(col("a"), col("b"), Dedup.jaccard(col("sha"), col("shb")).as("jac"))
        .orderBy(col("a"), col("b"))
    }),

    // asymmetric containment dedup: |sh(a) ∩ sh(b)| / |sh(a)| >= 0.75 —
    // the short-doc-swallowed-by-long-doc case Jaccard LSH misses;
    // candidates come from a PPJoin-style rarest-first prefix filter,
    // never an all-pairs scan (the oracle brute-forces the same answer)
    "dedup_containment" -> ((s, dir) => {
      val shd = t(s, dir, "documents")
        .select(col("doc_id").as("doc"), Dedup.shingles(col("text")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.containmentPairs(shd, 0.75)
        .select(col("a").as("doc_a"), col("b").as("doc_b"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // train/eval decontamination: train docs sharing ANY 3-shingle with
    // the eval slice (doc_id % 10 == 0) are flagged as benchmark leakage
    "dedup_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminated(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // graded leakage: per train doc, count + fraction of its distinct
    // 3-shingles present in the eval slice — the thresholdable report
    // behind the binary dedup_decontaminate flag
    "dedup_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .select(col("doc").cast("long").as("doc_id"),
          col("n_shingles").cast("long").as("n_shingles"),
          col("n_shared").cast("long").as("n_shared"), col("overlap"))
        .orderBy(col("doc_id"))
    }),

    // exact-substring decontamination: train docs containing an eval
    // doc's 64-char prefix verbatim — broadcast needles, per-row
    // contains probe, no shuffle
    "dedup_decontaminate_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminatedExact(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0)
            .withColumn("text", substring(col("text"), 1, 64)),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // near-dup clustering: LSH pairs -> connected components -> canonical
    // keep/drop decision per document (the actual corpus-dedup output)
    "dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", 4, 2)
      val comp = Dedup.connectedComponents(pairs)
      docs.select(col("doc_id"))
        .join(comp, col("doc_id") === col("node"), "left_outer")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("keep", col("doc_id") === col("component"))
        .orderBy(col("doc_id"))
    }),

    // cluster-canonical selection by QUALITY: within each near-dup
    // cluster keep the highest-quality member (ties to the lowest id) —
    // the curation-grade variant of dedup_clusters' min-id keep. One
    // window over the component key on top of the same banded LSH plan.
    "dedup_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", 4, 2)
      val comp = Dedup.connectedComponents(pairs)
      val wq = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      docs.select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        .join(comp, col("doc_id") === col("node"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          TextAnalysis.qualityScoreT(col("__toks"), col("text")).as("quality"))
        .withColumn("keep", row_number().over(wq) === 1)
        .orderBy(col("doc_id"))
    }),

    // THE capstone: the full training-data assembly as ONE plan —
    // near-dup canonical keep -> eval decontamination -> quality gate ->
    // concat-and-chunk sequence packing per source shard. Every stage is
    // an already-oracle-verified operator; this row proves they COMPOSE
    // (the 100 TB shape: one banded LSH join, one component pass, one
    // shingle semi-join, scan-bound signals, one prefix-sum window)
    "corpus_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      // ONE persisted shingle frame feeds both the LSH candidate join
      // and the decontamination semi-join — the corpus is tokenized and
      // shingled once, not once per consumer
      val trainSh = train
        .select(col("doc_id").as("doc"), Dedup.shingles(col("text")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minhashCandidatesFromShingles(trainSh)
      val comp = Dedup.connectedComponents(pairs)
      // minShared=8: the tiny synthetic vocabulary makes single-shingle
      // collisions ubiquitous (426/450 train docs share >= 1 shingle with
      // eval) — the threshold knob exists for exactly this noise profile
      val contam = Dedup.contaminatedFromShingles(trainSh,
          docs.filter(col("doc_id") % 10 === 0)
            .select(Dedup.shingles(col("text")).as("sh")), minShared = 8)
        .select(col("doc").as("doc_id"))
      val kept = train
        .select(col("doc_id"), col("text"), col("source"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        .join(comp, col("doc_id") === col("node"), "left_outer")
        .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
        .join(contam, Seq("doc_id"), "left_anti")
        .filter(TextAnalysis.qualityScoreT(col("__toks"), col("text")) >= 0.5)
      TextAnalysis.packSequences(kept, "source", "doc_id", "text", budget = 512)
        .orderBy(col("source"), col("doc_id"))
    }),

    // the corpus pipeline with its quality gate swapped for the TRAINED
    // classifier (verdict r17 ask: the CCNet-style alternative scorer
    // integrated into the capstone): same shingle frame, LSH canonical
    // keep and decontamination semi-join, but kept docs must score
    // clf_prob >= 1/2 under a model trained ON THE TRAIN SLICE — the
    // gate is an inner join to the score frame, so evidence-free docs
    // (< 2 tokens) drop rather than free-ride the gate
    "corpus_pipeline_clf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val trainSh = train
        .select(col("doc_id").as("doc"), Dedup.shingles(col("text")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minhashCandidatesFromShingles(trainSh)
      // classifier training (3 signSGD rounds of driver-coordinated
      // jobs) is independent of the dedup component chain — overlap
      // them (guide §2.6, chainPool note); both are deterministic alone
      val (m, (comp, contam)) = both(
        graft.ops.QualityClassifier.train(train, "doc_id", "text", col("lang") === "en"),
        (Dedup.connectedComponents(pairs),
          Dedup.contaminatedFromShingles(trainSh,
              docs.filter(col("doc_id") % 10 === 0)
                .select(Dedup.shingles(col("text")).as("sh")), minShared = 8)
            .select(col("doc").as("doc_id"))))
      val scores = graft.ops.QualityClassifier.score(train, "doc_id", "text", m)
        .select(col("doc").as("doc_id"), col("clf_prob"))
      val kept = train.select(col("doc_id"), col("text"), col("source"))
        .join(comp, col("doc_id") === col("node"), "left_outer")
        .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
        .join(contam, Seq("doc_id"), "left_anti")
        .join(scores, Seq("doc_id"))
        .filter(col("clf_prob") >= lit(500000L))
      TextAnalysis.packSequences(kept, "source", "doc_id", "text", budget = 512)
        .orderBy(col("source"), col("doc_id"))
    }),

    // capstone composition: the curated-corpus selection — near-dup
    // canonical keep x quality threshold x language agreement, one plan
    "corpus_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", 4, 2)
      val comp = Dedup.connectedComponents(pairs)
      // tokenize ONCE before the join: inlining langId/qualityScore over
      // text repeats the interpreted split ~20x per row (plan-locked)
      docs.select(col("doc_id"), col("text"), col("lang"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        .join(comp, col("doc_id") === col("node"), "left_outer")
        .select(col("doc_id"), col("text"), col("lang"), col("__toks"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("keep_dup", col("doc_id") === col("component"))
        .withColumn("lang_pred", TextAnalysis.langIdT(col("__toks")))
        .withColumn("quality", TextAnalysis.qualityScoreT(col("__toks"), col("text")))
        .withColumn("selected",
          col("keep_dup") && col("quality") >= 0.5 && col("lang_pred") === col("lang"))
        .select(col("doc_id"), col("keep_dup"), col("lang_pred"), col("quality"), col("selected"))
        .orderBy(col("doc_id"))
    }),

    // 64-bit SimHash signatures
    "dedup_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhashBits(col("text")).as("sig"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup candidates (4-chunk pigeonhole, Hamming <= 3)
    "dedup_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashCandidates(t(s, dir, "documents"), "doc_id", "text", 4, 3)
        .orderBy(col("a"), col("b"))
    }),

    // brute-force cosine top-5 for sampled query vectors (unit-normalized
    // corpus -> exact-decimal dot ranking == cosine ranking)
    "sim_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteTopKExact(emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // bucketed (LSH/IVF-style) cosine near-duplicate pairs
    "sim_cosine_neardup" -> ((s, dir) => {
      Similarity.dotNearDupExact(t(s, dir, "embeddings"), "vec_id", "embedding", BigDecimal("0.35"), 4, 64)
        .orderBy(col("a"), col("b"))
    }),

    // embedding near-dup CLUSTERING end-to-end: hyperplane-bucketed
    // pairs -> connected components -> canonical keep per cluster (the
    // embedding-space twin of dedup_clusters — same component engine)
    "sim_neardup_clusters" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.dotNearDupExact(emb, "vec_id", "embedding",
        BigDecimal("0.35"), 4, 64)
      val comp = Dedup.connectedComponents(pairs)
      emb.select(col("vec_id"))
        .join(comp, col("vec_id") === col("node"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"))
        .withColumn("keep", col("vec_id") === col("component"))
        .orderBy(col("vec_id"))
    }),

    // the WHOLE kNN graph (top-3 per vector), blocked by hyperplane
    // bucket: cost follows local bucket density, never the n^2 pair
    // count — the all-vectors operator embedding dedup/curation runs on
    "sim_knn_graph" -> ((s, dir) => {
      Similarity.knnGraphBucketed(t(s, dir, "embeddings"), "vec_id", "embedding", 3, 4, 64)
        .orderBy(col("qid"), col("rank"))
    }),

    // graph-centrality curation signal: fixed-3-iteration PageRank on
    // the integer micro-rank grid over the bucketed kNN graph — dense
    // semantic regions surface as high-rank prototypes, isolated docs
    // keep the teleport floor; 2 shuffles per iteration, no driver state
    "sim_graph_pagerank" -> ((s, dir) => {
      Similarity.knnPageRank(t(s, dir, "embeddings"), "vec_id", "embedding", 3, 4, 64)
        .orderBy(col("vec_id"))
    }),

    // MMR diversified retrieval: greedy redundancy-penalized top-5 from
    // a relevance pool of 10 (λ=0.7 on the exact-decimal grid) — plain
    // top-k returns near-copies from dense regions; this is the
    // de-duplicated ranking an eval/RAG pipeline serves
    "sim_mmr_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", 10, 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // MMR with its pool served FROM the persisted IVF-SQ8 index — the
    // production retrieval ranking at 100 TB: the round-13 brute |Q|×n
    // pool pass becomes an inverted-list probe (zero list-build per
    // query, vectors fetched only for the poolK survivors). Probed
    // recall-complete (nProbe = nList) the pool equals the brute pool,
    // so the greedy ranking must hash-match the same unrolled oracle as
    // sim_mmr_topk. Drop 1 keeps the 8 lowest vec_ids, pinning the seed
    // codebook the oracle's candidate set is invariant to.
    "sim_mmr_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_mmridx_q").toString
      val idx = tmp + "/ivf"
      SimilarityIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", idx, nList = 8)
      SimilarityIndex.refresh(emb, "vec_id", "embedding", idx)
      val out = Similarity.mmrTopKIndexed(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", idx, poolK = 10, k = 5, nProbe = 8)
        .orderBy(col("qid"), col("rank"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // MMR with its pool served FROM the persisted IVF-PQ index — the
    // 8-byte tier backing diversified retrieval. Probed gate-complete
    // (nProbe = nList, margin = corpus: every candidate survives the
    // ADC pool into the exact-decimal re-rank — margin is
    // FIXTURE-SIZED here precisely to make completeness provable; the
    // production serve uses a fixed margin and accepts the recall
    // contract), the pool equals the brute pool and the greedy rounds
    // hash-match the same unrolled oracle as sim_mmr_topk.
    "sim_mmr_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_mmrpq_q").toString
      val idx = tmp + "/pq"
      PqIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", idx, nList = 8)
      PqIndex.refresh(emb, "vec_id", "embedding", idx)
      // margin = corpus at the GATED scale (completeness provable). The
      // oracle pins EXACT equality with brute MMR, so a fixture past
      // MaxRerankMargin cannot silently degrade to approximate — it must
      // fail loudly here (re-gate on a bounded fixture, or accept a
      // recall-floor contract like the board rows, if this ever trips).
      val nEmb = emb.count()
      require(nEmb <= graft.ops.Pq.MaxRerankMargin,
        s"sim_mmr_pq: fixture has $nEmb embeddings > MaxRerankMargin " +
          s"${graft.ops.Pq.MaxRerankMargin}; the gate-complete pool would be " +
          "silently truncated under an exact-equality oracle")
      val out = Similarity.mmrTopKPq(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", idx, poolK = 10, k = 5, nProbe = 8,
          margin = nEmb.toInt)
        .orderBy(col("qid"), col("rank"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // ANN recall harness across tiers (round-13 stretch): ONE board of
    // recall@5 vs the exact brute ranking for every approximate tier on
    // the shared corpus/query set, each row gated by a pinned floor — a
    // gate/margin tweak that silently trades recall flips a row to
    // false and reds the driver hash gate instead of shipping as a
    // green-but-worse board. ivf_sq8 shares ivf_seed's floor because
    // its error-bound gate provably reproduces the full-precision IVF
    // ranking; pca_gate reuses the sim_pca_recall margin contract.
    // (The sparse-TF tier ranks a different metric space — hashed-token
    // cosine, not embedding cosine — so "recall vs brute" is not
    // defined for it; it stays under its own exact oracle.)
    "sim_recall_board" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      // count ONCE — the margins below reused emb.count() five times,
      // five scan jobs for one number
      val embN = emb.count()
      val pqMargin = math.max(32, math.ceil(embN * 0.02).toInt)
      // every trainer below is independent of the others (the residual
      // trainers depend only on their own book) and each is
      // deterministic in isolation — overlap them (guide §2.6,
      // chainPool note); the board's meaning is unchanged
      val ((exact, kmeansCents), ((hier, imiBook), (pcaFull, embR, imiBookR))) = both(
        both(
          Similarity.bruteTopKExact(emb, q, "vec_id", "embedding", 5)
            .select(col("qid"), col("cid")).localCheckpoint(true),
          Similarity.ivfCentroidsKMeans(emb, "vec_id", "embedding", 8)),
        both(
          both(graft.ops.IvfHier.train(emb, "vec_id", "embedding", 8, m = 2),
            graft.ops.IvfImi.train(emb, "vec_id", "embedding", 8)), {
            // ONE full-basis fit feeds both the 48-component gate model (the
            // fit eig-sorts then truncates, so take(48) == fit(..., 48)) and
            // the round-18 OPQ rotation; the rotated IMI book trains
            // right behind the rotation
            val pcaFull = graft.ops.Pca.fit(emb, "embedding", 64, 64)
            // parametric-OPQ tiers (Ge et al. 2013): the SAME serves over
            // the eigen-rotated, variance-balanced corpus — orthonormal, so
            // the scored inner products are preserved up to float rounding.
            // On this deliberately ISOTROPIC fixture OPQ ≈ PQ by
            // construction (measured 44/52/48 vs 44/52/46.5 across the SFs
            // — the +1.5 at sf0.1 is the balance effect); the anisotropic
            // win is pinned by PqSpec's A/B and sim_opq_aniso_purity.
            // Rotation materialized once for both tiers.
            val opqBasis = graft.ops.Pq.opqBasis(pcaFull, 8)
            val embR = emb.withColumn("embedding",
              graft.ops.Pq.opqRotateExpr(col("embedding"), opqBasis)).localCheckpoint(true)
            (pcaFull, embR, graft.ops.IvfImi.train(embR, "vec_id", "embedding", 8))
          }))
      def row(tier: String, approx: org.apache.spark.sql.DataFrame,
              floorPct: Int): org.apache.spark.sql.DataFrame =
        exact.join(approx.select(col("qid"), col("cid"), lit(1).as("__hit")),
            Seq("qid", "cid"), "left_outer")
          .agg(count(lit(1)).as("n_pairs"),
            (sum(coalesce(col("__hit"), lit(0))) * 100 >=
              count(lit(1)) * lit(floorPct)).as("recall_ok"))
          .select(lit(tier).as("tier"), col("n_pairs"), col("recall_ok"))
      val pcaModel = graft.ops.Pca.PcaModel(pcaFull.mean,
        pcaFull.eigenvalues.take(48), pcaFull.components.take(48))
      val pcaMargin = math.max(25, math.ceil(embN * 0.2).toInt)
      val qR = embR.filter(col("vec_id") % 50 === 0)
      // floors pinned at measured-minus-noise (round-15 tightening;
      // ivf_hier + ivf_pq + ivf_hier_pq added round 16, both PQ tiers
      // switched to MEAN-REFERENCED RESIDUAL coding round 17): recall@5
      // against the exact brute ranking, measured minima across
      // sf0.001/0.01/0.1 — kmeans 40, seed 44, sq8 44, pq 44 (residual
      // == raw when the seeded gate binds; the residual win shows on
      // clustered data — PqSpec's anisotropic A/B — and in the
      // gate-complete sim_pq_recall), lsh 40, hier 39, hier_pq 38,
      // pca 100; floors sit 2 points under (5 under for pca: its margin
      // contract is the sim_pca_recall ≥0.95 bound, restated here), so
      // a change shedding more than ~1 recall point at k=5 reds the
      // driver gate. The 2%-of-corpus margins below cross
      // Pq.MaxRerankMargin at ~409k fixture rows, where the PQ serves
      // throw the absolute-cap guard — re-pin on a bounded fixture then.
      // each tier's construction runs its own training/encode actions
      // (ivfTopKPq trains codebooks when called) — independent given
      // the shared models above, so they overlap too; the union is
      // assembled from the joined frames in the SAME fixed order
      all(Seq(
        () => row("brute", exact, 100),
        () => row("ivf_kmeans", Similarity.ivfTopKWith(kmeansCents, emb, q,
          "vec_id", "embedding", 5, 2), 38),
        () => row("ivf_seed", Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 8, 2), 42),
        () => row("ivf_hier", Similarity.ivfTopKHier(emb, q,
          "vec_id", "embedding", hier, 5, 2), 37),
        () => row("ivf_sq8", Similarity.ivfTopKInt8(emb, q, "vec_id", "embedding", 5, 8, 2), 42),
        () => row("ivf_pq", graft.ops.Pq.ivfTopKPq(emb, q, "vec_id", "embedding", 5, 8, 2,
          pqMargin), 42),
        () => row("ivf_hier_pq", graft.ops.Pq.ivfTopKPqHier(emb, q, "vec_id", "embedding",
          hier, graft.ops.Pq.trainResidualHier(emb, "vec_id", "embedding", hier), 5, 2,
          pqMargin), 35),
        // product-coarse (IMI) tiers (round-17, closes the codebook
        // task-state seam): measured minima 36/36 across the three SFs,
        // floors 2 under — the axis-aligned product cells trade ~6
        // recall points vs the data-shaped hier cells for O(√nList·dim)
        // task state
        () => row("ivf_imi", Similarity.ivfTopKImi(emb, q, "vec_id", "embedding",
          imiBook, 5, 2), 34),
        () => row("ivf_imi_pq", graft.ops.Pq.ivfTopKPqImi(emb, q, "vec_id", "embedding",
          imiBook, graft.ops.Pq.trainResidualImi(emb, "vec_id", "embedding", imiBook), 5, 2,
          pqMargin), 34),
        // OPQ tiers: measured minima 44 (ivf_opq) / 36 (ivf_imi_opq)
        // across the three SFs, floors 2 under
        () => row("ivf_opq", graft.ops.Pq.ivfTopKPq(embR, qR, "vec_id", "embedding", 5, 8, 2,
          pqMargin), 42),
        () => row("ivf_imi_opq", graft.ops.Pq.ivfTopKPqImi(embR, qR, "vec_id", "embedding",
          imiBookR, graft.ops.Pq.trainResidualImi(embR, "vec_id", "embedding", imiBookR), 5, 2,
          pqMargin), 34),
        () => row("lsh_multiprobe", Similarity.multiProbeTopKExact(emb, q,
          "vec_id", "embedding", 5, 4, 64), 38),
        () => row("pca_gate", graft.ops.Pca.pcaTopK(emb, q, "vec_id", "embedding",
          pcaModel, 5, pcaMargin), 95)
      )).reduce(_ unionByName _).orderBy(col("tier"))
    }),

    // the hier-cell coarse-beam knob documented as a board (round-17
    // stretch): recall@5 vs exact across m ∈ {1,2,4} at FIXED
    // (nList=16, nProbe=2). What the sweep actually shows — measured
    // 26/30/22, 22/24/32, 28/28/27 across the three SFs — is that m
    // buys ASSIGNMENT fidelity (m = nCoarse reproduces the exact
    // argmax assignment), not monotone recall at fixed nProbe: a truer
    // assignment reshuffles cell contents under the same probe budget.
    // Floors pin each row at min-across-SFs minus noise, so a
    // regression in the two-level assign path reds the gate while the
    // non-monotone shape stays documented instead of assumed away.
    "sim_hier_m_board" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      val exact = Similarity.bruteTopKExact(emb, q, "vec_id", "embedding", 5)
        .select(col("qid"), col("cid")).localCheckpoint(true)
      def row(m: Int, floorPct: Int): org.apache.spark.sql.DataFrame = {
        val h = graft.ops.IvfHier.train(emb, "vec_id", "embedding", 16, m = m)
        exact.join(Similarity.ivfTopKHier(emb, q, "vec_id", "embedding", h, 5, 2)
            .select(col("qid"), col("cid"), lit(1).as("__hit")),
            Seq("qid", "cid"), "left_outer")
          .agg(count(lit(1)).as("n_pairs"),
            (sum(coalesce(col("__hit"), lit(0))) * 100 >=
              count(lit(1)) * lit(floorPct)).as("recall_ok"))
          .select(lit(m.toLong).as("m"), col("n_pairs"), col("recall_ok"))
      }
      // measured minima across sf0.001/0.01/0.1: m1 22, m2 24, m4 22
      Seq(row(1, 20), row(2, 22), row(4, 20))
        .reduce(_ unionByName _).orderBy(col("m"))
    }),

    // IVF ANN: deterministic seed codebook, map-side cell assignment,
    // nProbe=2 inverted-list probe, exact-decimal re-rank
    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          5, 8, 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // IVF-SQ8: inverted lists carry 1-byte codes, the probe join scores
    // with the compiled byte-dot, margin survivors re-rank on the full
    // vectors — same results as sim_ivf_topk at a quarter the list bytes
    "sim_ivf_int8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKInt8(emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          5, 8, 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // PERSISTED IVF-SQ8: the inverted lists live as a lake artifact —
    // built on drop 1, churn-refreshed when drop 2 lands (only the new
    // vectors quantize/assign; the codebook stays pinned), then probed
    // with ZERO list-build work. Drop 1 keeps the 8 lowest vec_ids, so
    // the pinned seed codebook equals the full-corpus codebook the
    // recompute oracle derives — the served ranking must hash-match it.
    "sim_ivf_persisted_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfidx_q").toString
      val idx = tmp + "/ivf"
      SimilarityIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", idx, nList = 8)
      SimilarityIndex.refresh(emb, "vec_id", "embedding", idx) // churn = % 10 == 9
      val out = SimilarityIndex.topKInt8(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", idx, 5, 2)
        .orderBy(col("qid"), col("rank"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // persisted IVF-PQ: build on 90%, churn-refresh to full, then serve
    // — the served ranking must EQUAL the recompute form's (both
    // codebooks are deterministic, so persisted-vs-recompute parity is
    // exact), and the gate-complete pool must clear the sim_pq_recall
    // floor; both pinned as Spark-side flags with a constants oracle
    // (the PQ Lloyd trainer is not SQL-reproducible, unlike SQ8's
    // affine quantizer)
    "sim_pq_persisted_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      // corpus-proportional margin is FIXTURE-LOCAL (it makes the pool
      // provably gate-complete at pinned tiny scale); production serves
      // pass a FIXED margin — the pool is broadcast and Pq.MaxRerankMargin
      // enforces the absolute cap. Ceiling: 2% of corpus crosses that cap
      // at ~409k fixture rows, where the serve would FAIL LOUDLY (the
      // margin guard throws) — the intended signal to re-pin this query
      // on a bounded fixture rather than let recall drift silently.
      val margin = math.max(32, math.ceil(emb.count() * 0.02).toInt)
      val tmp = java.nio.file.Files.createTempDirectory("graft_pqidx_q").toString
      val idx = tmp + "/pq"
      // NOTE the codebooks pin at BUILD (90% corpus): the recompute twin
      // must train on the same 90% slice for bit-identical models
      val b90 = emb.filter(col("vec_id") % 10 =!= 9)
      // three INDEPENDENT chains — index lifecycle, recompute twin,
      // brute floor — overlapped (guide §2.6, chainPool note): each is
      // deterministic alone, so only the wall moves, never a result
      persistedParity(emb, q, tmp, {
        PqIndex.build(b90, "vec_id", "embedding", idx, nList = 8)
        PqIndex.refresh(emb, "vec_id", "embedding", idx) // churn = % 10 == 9
        PqIndex.topK(emb, q, "vec_id", "embedding", idx, 5, 8, margin)
          .localCheckpoint(true) // the scratch index is deleted below
      }, {
        val cents = Similarity.ivfCentroids(b90, "vec_id", "embedding", 8)
        val model = graft.ops.Pq.trainResidualFlat(b90, "vec_id", "embedding", cents)
        graft.ops.Pq.ivfTopKPqFromLists(cents, model,
          graft.ops.Pq.pqLists(emb, "vec_id", "embedding", cents, model)
            .localCheckpoint(true), // serve re-evaluates lazy lists ~5x
          emb, q, "vec_id", "embedding", 5, 8, margin)
          .localCheckpoint(true)
      })
    }),

    // persisted IMI-PQ: the fully FACTORIZED 10^10+-vector serving
    // configuration as a lake artifact — product cells from two
    // sub-codebooks (no materialized fine codebook anywhere), 8-byte
    // residual codes under the derived μ, churn-refresh to full, then
    // a zero-train serve that must EQUAL the recompute twin exactly
    // (deterministic books) and clear the gate-complete recall floor
    // the OPQ-rotated persisted IVF-PQ index (round-18): build pins the
    // eigen-balanced rotation beside the codebooks, refresh re-encodes
    // only the churn IN THE ROTATED SPACE (fingerprints are signed over
    // rotated vectors, so unchanged rows carry verbatim), and the
    // zero-train serve must equal the from-scratch recompute under the
    // same deterministic basis bit-for-bit, with the brute recall floor
    // of its unrotated sibling (rotation is orthonormal — it cannot
    // lose recall, only re-balance what the codes can span)
    "sim_opq_persisted_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      val margin = math.max(32, math.ceil(emb.count() * 0.02).toInt)
      val tmp = java.nio.file.Files.createTempDirectory("graft_opqidx_q").toString
      val idx = tmp + "/opq"
      val b90 = emb.filter(col("vec_id") % 10 =!= 9)
      // independent chains overlapped (guide §2.6, chainPool note)
      persistedParity(emb, q, tmp, {
        PqIndex.build(b90, "vec_id", "embedding", idx, nList = 8, opq = true)
        PqIndex.refresh(emb, "vec_id", "embedding", idx)
        PqIndex.topK(emb, q, "vec_id", "embedding", idx, 5, 8, margin)
          .localCheckpoint(true) // the scratch index is deleted below
      }, {
        // recompute twin: the same pinned-at-build artifacts from
        // scratch. The rotated corpus materializes ONCE and b90/q
        // derive from it by the same vec_id filters (rotation is
        // per-row — filter-then-rotate == rotate-then-filter), so the
        // dim² rotation tree is never substituted into the train/encode
        // plans (the PqIndex.rotatedMat plan-size note)
        val basis = graft.ops.Pq.opqBasis(Pca.fit(b90, "embedding", 64, 64), 8)
        val rotEmb = emb.withColumn("embedding",
          graft.ops.Pq.opqRotateExpr(col("embedding"), basis)).localCheckpoint(true)
        val rb90 = rotEmb.filter(col("vec_id") % 10 =!= 9)
        val rq = rotEmb.filter(col("vec_id") % 50 === 0)
        val cents = Similarity.ivfCentroids(rb90, "vec_id", "embedding", 8)
        val model = graft.ops.Pq.trainResidualFlat(rb90, "vec_id", "embedding", cents)
        graft.ops.Pq.ivfTopKPqFromLists(cents, model,
          graft.ops.Pq.pqLists(rotEmb, "vec_id", "embedding", cents, model)
            .localCheckpoint(true), // serve re-evaluates lazy lists ~5x
          rotEmb, rq, "vec_id", "embedding", 5, 8, margin)
          .localCheckpoint(true)
      })
    }),

    "sim_imi_persisted_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      val margin = math.max(32, math.ceil(emb.count() * 0.02).toInt)
      val tmp = java.nio.file.Files.createTempDirectory("graft_imipq_q").toString
      val idx = tmp + "/imipq"
      val b90 = emb.filter(col("vec_id") % 10 =!= 9)
      // independent chains overlapped (guide §2.6, chainPool note)
      persistedParity(emb, q, tmp, {
        graft.ops.ImiPqIndex.build(b90, "vec_id", "embedding", idx, nCells = 16)
        graft.ops.ImiPqIndex.refresh(emb, "vec_id", "embedding", idx)
        graft.ops.ImiPqIndex.topK(emb, q, "vec_id", "embedding", idx, 5, 16, margin)
          .localCheckpoint(true) // the scratch index is deleted below
      }, {
        val imi = graft.ops.IvfImi.train(b90, "vec_id", "embedding", 16)
        val model = graft.ops.Pq.trainResidualImi(b90, "vec_id", "embedding", imi)
        graft.ops.Pq.ivfTopKPqImi(emb, q, "vec_id", "embedding",
          imi, model, 5, 16, margin)
          .localCheckpoint(true)
      })
    }),

    // the COMPOSED rotated+factorized persisted serve (round-19): OPQ
    // eigen-balanced rotation x IMI product cells x residual PQ codes —
    // the configuration a real 10^11-vector corpus actually runs
    // (O(√nCells·dim) task state AND variance-balanced 8-byte codes),
    // exercised together as one lake artifact rather than only in the
    // separate sim_opq_/sim_imi_ rows: build pins basis+books on 90%,
    // churn-refresh to full in the ROTATED space (unchanged rows carry
    // verbatim), then the zero-train serve must equal the from-scratch
    // recompute under the same deterministic basis+books bit-for-bit
    // and clear its unrotated sibling's 0.80 brute recall floor
    "sim_imi_opq_persisted_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      val margin = math.max(32, math.ceil(emb.count() * 0.02).toInt)
      val tmp = java.nio.file.Files.createTempDirectory("graft_imiopq_q").toString
      val idx = tmp + "/imiopq"
      val b90 = emb.filter(col("vec_id") % 10 =!= 9)
      // independent chains overlapped (guide §2.6, chainPool note)
      persistedParity(emb, q, tmp, {
        graft.ops.ImiPqIndex.build(b90, "vec_id", "embedding", idx,
          nCells = 16, opq = true)
        graft.ops.ImiPqIndex.refresh(emb, "vec_id", "embedding", idx)
        graft.ops.ImiPqIndex.topK(emb, q, "vec_id", "embedding", idx, 5, 16, margin)
          .localCheckpoint(true) // the scratch index is deleted below
      }, {
        // recompute twin: the same pinned-at-build artifacts from
        // scratch, all in the rotated space; the rotation materializes
        // ONCE (filter-then-rotate == rotate-then-filter — see the
        // sim_opq twin note)
        val basis = graft.ops.Pq.opqBasis(Pca.fit(b90, "embedding", 64, 64), 8)
        val rotEmb = emb.withColumn("embedding",
          graft.ops.Pq.opqRotateExpr(col("embedding"), basis)).localCheckpoint(true)
        val rb90 = rotEmb.filter(col("vec_id") % 10 =!= 9)
        val rq = rotEmb.filter(col("vec_id") % 50 === 0)
        val imi = graft.ops.IvfImi.train(rb90, "vec_id", "embedding", 16)
        val model = graft.ops.Pq.trainResidualImi(rb90, "vec_id", "embedding", imi)
        graft.ops.Pq.ivfTopKPqImi(rotEmb, rq,
          "vec_id", "embedding", imi, model, 5, 16, margin)
          .localCheckpoint(true)
      })
    }),

    // the OPQ rotation's recall WIN, driver-verified (round-19): the
    // recall board's fixture is deliberately isotropic, so ivf_opq ~=
    // ivf_pq there and the rotation's value lived only in PqSpec's A/B.
    // This row derives a variance-IMBALANCED corpus deterministically
    // from the embeddings ids (the textbook Ge et al. 2013 case: all
    // discriminative variance in dims 0/1 — two ± sign directions of
    // DISTINCT strength, four clusters — six jitter dims), measures ADC
    // top-5 cluster purity at 2 bytes (mSub = 2, ks = 2, single zero
    // cell, margin 0: pure code quality, no gate or exact-re-rank
    // rescue), and pins BOTH contracts: the rotated codes must separate
    // the clusters (purity >= 99) and STRICTLY beat raw dimension order
    // (raw packs both strong dims into subspace 0 — four patterns, two
    // codes — while subspace 1 quantizes noise)
    "sim_opq_aniso_purity" -> ((s, dir) => {
      import s.implicits._
      val i = col("vec_id")
      val vec = array((0 until 8).map { j =>
        val strong =
          if (j == 0) when(pmod(i, lit(2)) === 0, lit(10.0f)).otherwise(lit(-10.0f))
          else if (j == 1) when(pmod(i, lit(4)) < 2, lit(6.0f)).otherwise(lit(-6.0f))
          else lit(0.0f)
        (strong +
          lit(0.01f) * (pmod(i * 31 + lit(j * 17), lit(97)) - lit(48)).cast("float"))
          .cast("float")
      }: _*)
      val corpus = t(s, dir, "embeddings").select(col("vec_id"), vec.as("embedding"))
        .localCheckpoint(true)
      val n = corpus.count().toInt
      val oneCell: Seq[(Long, Seq[Float])] = Seq((0L, Seq.fill(8)(0f)))
      def purity(df: org.apache.spark.sql.DataFrame): Double = {
        val m0 = graft.ops.Pq.train(df, "vec_id", "embedding",
          mSub = 2, ks = 2, trainN0 = n)
        val ap = graft.ops.Pq.ivfTopKPqFromLists(oneCell, m0,
          graft.ops.Pq.pqLists(df, "vec_id", "embedding", oneCell, m0),
          df, df.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", 5, 1, 0)
        val r = ap.agg(count(lit(1)),
            sum(when(col("qid") % 4 === col("cid") % 4, 1L).otherwise(0L)))
          .collect().head
        100.0 * r.getLong(1) / r.getLong(0)
      }
      val raw = purity(corpus)
      val basis = graft.ops.Pq.opqBasis(Pca.fit(corpus, "embedding", 8, 8), 2)
      val rotated = corpus.withColumn("embedding",
        graft.ops.Pq.opqRotateExpr(col("embedding"), basis)).localCheckpoint(true)
      val opq = purity(rotated)
      val qn = corpus.filter(col("vec_id") % 10 === 0).count()
      Seq((qn, opq > raw, opq >= 99.0))
        .toDF("n_queries", "opq_gt_raw", "opq_ge_99")
    }),

    // IVF under the sampled-k-means codebook, probed recall-complete
    // (nProbe = nList): with every cell probed the candidate set is the
    // whole corpus for ANY codebook, so the exact-decimal decider must
    // reproduce the brute-force ranking — an end-to-end oracle over the
    // pluggable-codebook plumbing (Lloyd's codebook -> cell assign ->
    // probe explode -> cell equi-join -> decider) that stays exact
    // without replicating driver-side k-means in SQL
    "sim_ivf_kmeans_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroidsKMeans(emb, "vec_id", "embedding", nList = 8)
      Similarity.ivfTopKWith(cents, emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", 5, nProbe = 8)
        .orderBy(col("qid"), col("rank"))
    }),

    // multi-probe bucketed ANN: each query probes its own bucket plus the
    // 4 flip-one-bit neighbors; exact-decimal rank over the probed union
    "sim_multiprobe_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.multiProbeTopKExact(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", 5, 4, 64)
        .orderBy(col("qid"), col("rank"))
    }),

    // int8 embedding quantization: codes must be bit-identical in both
    // engines (fixed-parenthesization IEEE arithmetic)
    "sim_quantize_int8" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"), col("q.lo").as("lo"), col("q.hi").as("hi"),
          aggregate(col("q.codes"), lit(0L), (a, c) => a + c).as("code_sum"))
        .orderBy(col("vec_id"))
    }),

    // Gopher-family duplicate-n-gram fraction: per doc, the share of
    // sliding 3-gram occurrences whose 3-gram occurs in > 1 document —
    // exact-ppm grid, digests-only shuffles
    "txt_dup_ngrams" -> ((s, dir) => {
      TextAnalysis.dupNgramStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // fuzzy entity resolution: all supplier-name pairs within edit
    // distance 1 via the PassJoin pigeonhole (chunk equi-join + exact
    // levenshtein verify). The synthetic single-template names are the
    // documented worst case for chunk selectivity (every row shares the
    // 'Supplier#' prefix chunk → candidates degenerate toward all
    // pairs), so the fixture pins hot-chunk correctness — on the
    // smaller dimension table, where the degenerate pair count stays
    // bench-sized (the customer-sized version of this worst case is
    // exactly what the docstring warns about)
    "enrich_fuzzy_join" -> ((s, dir) => {
      graft.ops.FuzzyJoin.editDistanceSelfJoin(
          t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          "s_suppkey", "s_name", maxDist = 1)
        .orderBy(col("a"), col("b"))
    }),

    // the two-table lookup form: mutated probe names (every '1'
    // digit flipped to '7') resolved against the reference within edit
    // distance 2 — the dirty-batch-vs-master entity-resolution shape
    "enrich_fuzzy_lookup" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val probes = cust.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("p_id"),
          expr("replace(c_name, '1', '7')").as("p_name"))
      graft.ops.FuzzyJoin.editDistanceJoin(probes, "p_id", "p_name",
          cust.select(col("c_custkey"), col("c_name")), "c_custkey", "c_name",
          maxDist = 2)
        .orderBy(col("probe_id"), col("ref_id"))
    }),

    // the PERSISTED form of the lookup: chunk index built over 90% of
    // the master, refreshed to full (the monthly-drop cadence), then the
    // same mutated probes resolved with zero master-side chunking at
    // probe time. The pigeonhole is direction-symmetric and the verify
    // exact, so the indexed result must hash-match the recompute
    // lookup's own oracle bit-for-bit
    "enrich_fuzzy_indexed" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val tmp = java.nio.file.Files.createTempDirectory("graft_fuzzyidx_q").toString
      val idx = tmp + "/idx"
      // default guard tuning: the indexed side is the templated MASTER
      // here, and measured at sf0.1 the default arity beats a higher
      // extraChunks (shorter chunks lose digit selectivity faster than
      // the extra droppable slot wins; the wall is staged-write-bound
      // either way). The oracle is invariant to the tuning — lossless
      // filter, exact verify; only the pair budget moves
      graft.ops.FuzzyJoinIndex.build(
        cust.filter(col("c_custkey") % 10 =!= 9).select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", idx, maxDist = 2)
      graft.ops.FuzzyJoinIndex.refresh(
        cust.select(col("c_custkey"), col("c_name")), "c_custkey", "c_name", idx)
      val probes = cust.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("p_id"),
          expr("replace(c_name, '1', '7')").as("p_name"))
      val out = graft.ops.FuzzyJoinIndex.probe(probes, "p_id", "p_name", idx)
        .orderBy(col("probe_id"), col("ref_id"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // DSIR-style importance weights (Xie et al. 2023): hashed-bigram
    // target-vs-corpus distribution delta on the integer ppm grid — the
    // model is nBuckets rows regardless of corpus size (broadcast to the
    // scoring join); target slice = the English-labeled docs
    "txt_dsir_weights" -> ((s, dir) => {
      graft.ops.Curation.dsirWeights(t(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en")
        .orderBy(col("doc"))
    }),

    // the full DSIR pipeline (the paper's R): importance weights feed
    // systematic PPS resampling — copies = epochs ∝ the min-shifted
    // weight (dsir_w − min + 1: monotone, strictly positive, no
    // fixture-dependent clamp — raw deltas can be all-negative when the
    // target distribution hugs the corpus), so target-like docs repeat
    // most. The shift is one broadcast scalar; nothing here is
    // corpus-sized except the two bigram passes and the resample scan
    "txt_dsir_resample" -> ((s, dir) => {
      val dw = graft.ops.Curation.dsirWeights(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en")
      val w = dw.crossJoin(broadcast(dw.agg(min(col("dsir_w")).as("__mn"))))
        .select(col("doc"), (col("dsir_w") - col("__mn") + lit(1L)).as("w"))
      graft.ops.Curation.samplePps(w, "doc", "w", step = 997L)
        .orderBy(col("doc"))
    }),

    // incremental form of the DSIR tier: the hashed-bigram count model
    // is a SUMMABLE aggregate, so three "monthly drops" each land one
    // nBuckets-bounded count segment and the merged model scores the
    // corpus — bit-identical to the from-scratch recompute (same oracle
    // SQL as txt_dsir_weights). Model maintenance is O(drop), not
    // O(corpus)
    "txt_dsir_incremental" -> ((s, dir) => {
      import graft.ops.Curation
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsirseg_q").toString
      val path = tmp + "/dsir"
      SparkEntry.parDrops(0 to 2) { d =>
        Curation.landDsirDrop(docs.filter(pmod(col("doc_id"), lit(3)) === d),
          "doc_id", "text", col("lang") === "en", path, s"drop$d")
      }
      val out = Curation.scoreAgainstDsirCounts(docs, "doc_id", "text",
          Curation.serveDsirCounts(s, path))
        .orderBy(col("doc"))
        .localCheckpoint(true) // the scratch segments are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // TRAINED quality classifier (the CCNet/RefinedWeb fastText-style
    // gate): hard-sigmoid logistic regression over hashed-bigram
    // presence features, trained by 3 signSGD rounds ENTIRELY on the
    // 10^6 integer grid — the oracle replays every round in SQL (w0=0
    // → g1 → w1 → g2 → w2 → g3 → w3) the way the BPE oracle replays
    // merge rounds. Output: the final model rows
    "txt_clf_train" -> ((s, dir) => {
      val m = graft.ops.QualityClassifier.train(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en")
      graft.ops.QualityClassifier.modelDf(s, m).orderBy(col("b"))
    }),

    // ...and the corpus scored under that trained model: mean-bucket-
    // weight logit + hard-sigmoid probability per doc, one broadcast
    // join + one doc-keyed aggregate (no per-doc model state anywhere)
    "txt_clf_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.ops.QualityClassifier.train(docs,
        "doc_id", "text", col("lang") === "en")
      graft.ops.QualityClassifier.score(docs, "doc_id", "text", m)
        .orderBy(col("doc"))
    }),

    // the classifier as a PERSISTED lake artifact (round-19): train on
    // the labeled slice (doc_id % 10 <> 0, the capstone's train split)
    // + score 80% of the corpus at build, then refresh to the full
    // corpus under the SAME labeled slice — the fingerprint compare
    // pins the model, so only the % 5 == 0 churn re-scores and every
    // carried row must be byte-identical to what a from-scratch
    // train+score would produce. The oracle replays the whole thing:
    // 3 signSGD rounds over the train slice, then the FULL corpus
    // scored under w3 (evidence-free docs as NULL-score rows) — a
    // broken carry, stale model, or missed rescore all hash-mismatch
    "txt_clf_persisted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.filter(col("doc_id") % 10 =!= 0)
      val tmp = java.nio.file.Files.createTempDirectory("graft_clfidx_q").toString
      val idx = tmp + "/clf"
      graft.ops.ClfIndex.build(labeled, docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", col("lang") === "en", idx)
      graft.ops.ClfIndex.refresh(labeled, docs, "doc_id", "text",
        col("lang") === "en", idx)
      val out = graft.ops.ClfIndex.serve(s, idx)
        .select(col("doc"), col("n_fbuckets"), col("clf_logit"), col("clf_prob"))
        .orderBy(col("doc"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // feature-hashed sparse TF vectors: the model-free text→vector
    // bridge (md5 3-nibble bucket, term frequency) — posting rows, the
    // sparse form the inverted-index similarity join consumes
    "txt_hashed_tf" -> ((s, dir) => {
      TextAnalysis.hashedTf(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("bucket"))
    }),

    // inverted-index sparse cosine top-3 over the hashed-TF postings:
    // buckets with document frequency above 5% of the corpus (min 16)
    // are pruned — the sparse analogue of stopword removal; integer
    // dot/norms make the double cosine engine-reproducible
    "txt_sparse_sim_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cap = math.max(16L, (docs.count() + 19) / 20)
      Similarity.sparseCosineTopK(
          TextAnalysis.hashedTf(docs, "doc_id", "text"), 3, cap)
        .orderBy(col("qid"), col("rank"))
    }),

    // SemDeDup: IVF-cell-partitioned semantic dedup — data-adaptive
    // cells (vs the fixed hyperplane buckets of sim_neardup_clusters),
    // exact-decimal pair decisions, component-min representative per
    // near-dup group
    "sim_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
      Similarity.semanticDedup(emb, "vec_id", "embedding", cents, BigDecimal("0.35"))
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    }),

    // distributed PCA moment pass: the order-independent decimal sums
    // that feed the driver-side eigensolver, scaled to an exact integer
    // grid — DuckDB recomputes every first/second moment independently
    "pca_moments" -> ((s, dir) => {
      Pca.moments(t(s, dir, "embeddings"), "embedding", 64)
        .select(col("i"), col("j"),
          floor(col("s") * lit(1000000)).cast("long").as("s2_scaled"), col("n"))
        .orderBy(col("i"), col("j"))
    }),

    // persisted semantic-label index: built on a PERTURBED corpus state
    // (10% of ids missing, some vectors negated), one refresh to the
    // true corpus — the served labels must hash-match the from-scratch
    // WITH RECURSIVE component recompute over the final corpus. The
    // perturbation spares ids 0..7, so the pinned codebook equals the
    // oracle's full-corpus seed codebook (the sim_ivf_persisted trick)
    "sem_cluster_incremental" -> ((s, dir) => {
      import graft.ops.SemDedupIndex
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_semidx_q").toString
      val idx = tmp + "/sem"
      val v1 = emb.filter(col("vec_id") % 10 =!= 9)
        .withColumn("embedding",
          when(col("vec_id") % 13 === 0 && col("vec_id") > 8,
            transform(col("embedding"), x => -x)).otherwise(col("embedding")))
      SemDedupIndex.build(v1, "vec_id", "embedding", idx,
        nList = 8, threshold = BigDecimal("0.35"))
      SemDedupIndex.refresh(emb, "vec_id", "embedding", idx)
      val out = SemDedupIndex.serve(s, idx)
        .select(col("doc").as("vec_id"), col("label").as("component"),
          (col("doc") === col("label")).as("keep"))
        .orderBy(col("vec_id"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // incremental PCA: per-drop moment segments (3 drops + a doubled
    // subset retracted via a sign=-1 segment, compaction mid-sequence)
    // merged at serve must equal the from-scratch recompute bit-for-bit
    "pca_moments_incremental" -> ((s, dir) => {
      import graft.ops.PcaIndex
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_pcaidx_q").toString
      val path = tmp + "/pca"
      // drops 0/1 land concurrently (independent seg dirs; the merge is
      // an order-independent decimal sum), compaction is the barrier,
      // then the drop2 trio (insert, duplicate, retraction) lands
      // concurrently too — SparkEntry.parDrops' contract
      SparkEntry.parDrops(0 to 1) { d =>
        PcaIndex.landDrop(emb.filter(pmod(col("vec_id"), lit(3)) === d),
          "embedding", 64, path, s"drop$d"); ()
      }
      PcaIndex.compact(s, path) // fold drops 0+1 under one root swap
      // drop2 lands with a duplicated subset, then retracts it
      val extra = emb.filter(pmod(col("vec_id"), lit(3)) === 2 &&
        pmod(col("vec_id"), lit(5)) === 0)
      SparkEntry.parDrops(Seq(
        () => PcaIndex.landDrop(emb.filter(pmod(col("vec_id"), lit(3)) === 2),
          "embedding", 64, path, "drop2"),
        () => PcaIndex.landDrop(extra, "embedding", 64, path, "drop2-dup"),
        () => PcaIndex.landDrop(extra, "embedding", 64, path, "drop2-retract",
          sign = -1)))(land => { land(); () })
      val out = PcaIndex.serveMoments(s, path)
        .select(col("i"), col("j"),
          floor(col("s") * lit(1000000)).cast("long").as("s2_scaled"), col("n"))
        .orderBy(col("i"), col("j"))
        .localCheckpoint(true) // the scratch index is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // PCA-gated ANN recall vs the exact decimal top-5. The synthetic
    // corpus is ISOTROPIC (near-flat eigen-spectrum — measured: top-10
    // eigenvalues within 20% of each other), the worst case for PCA, so
    // the operating point is m=48 with a corpus-RELATIVE margin (20% of
    // n — measured recall ≥ 0.995 at every test scale; a fixed margin
    // was scale-fragile: fine at sf0.01, red at sf0.1). A real embedding
    // corpus concentrates variance and runs far smaller m/margin. The
    // flag goes red if the eigenbasis or the gate arithmetic drifts
    "sim_pca_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      val model = Pca.fit(emb, "embedding", 64, 48)
      val margin = math.max(25, math.ceil(emb.count() * 0.2).toInt)
      val exact = Similarity.bruteTopKExact(emb, q, "vec_id", "embedding", 5)
      val gated = Pca.pcaTopK(emb, q, "vec_id", "embedding", model, 5, margin)
        .select(col("qid"), col("cid")).withColumn("__hit", lit(1))
      exact.select(col("qid"), col("cid"))
        .join(gated, Seq("qid", "cid"), "left_outer")
        .agg(count_distinct(col("qid")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))) >= count(lit(1)) * lit(0.95))
            .as("recall_ge_095"))
    }),

    // IVF-PQ (Jégou et al. TPAMI'11): 8-byte PQ8x256 codes + compiled
    // ADC scoring, exact-decimal re-rank of a (k + margin) pool — the
    // recall contract is the Spark-side pinned flag, same shape as
    // sim_pca_recall. nProbe = nList makes the cell gate complete, so
    // the flag pins the ADC + pool quality itself (the gated variant is
    // the board's ivf_pq row). Floor is measured-minus-noise:
    // recall@5 against the exact brute ranking (full-gate ADC) minima
    // 86.5/94/100 across sf0.1/0.01/0.001 at k=5, margin 2% of corpus
    // under round-17 mean-referenced residual coding (raw measured
    // 87.5/98/100 — a wash on this isotropic fixture; the residual win
    // is on clustered corpora, pinned by PqSpec's anisotropic A/B) —
    // pinned at 0.80.
    "sim_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      val margin = math.max(32, math.ceil(emb.count() * 0.02).toInt)
      val exact = Similarity.bruteTopKExact(emb, q, "vec_id", "embedding", 5)
      val pq = graft.ops.Pq.ivfTopKPq(emb, q, "vec_id", "embedding", 5, 8, 8,
          margin)
        .select(col("qid"), col("cid")).withColumn("__hit", lit(1))
      exact.select(col("qid").cast("long").as("qid"), col("cid").cast("long").as("cid"))
        .join(pq, Seq("qid", "cid"), "left_outer")
        .agg(count_distinct(col("qid")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))) >= count(lit(1)) * lit(0.80))
            .as("recall_ge_080"))
    }),

    // P8/F9-F13: URL melt + host/filename/extension extraction
    "url_extract" -> ((s, dir) => {
      val v = versionsDf(s, dir)
      val urls = v.select(col("_id"), col("ok"),
        concat(lit("https://host"), (col("nk") % 20).cast("string"),
          lit(".example.es/docs/"), col("_id"), lit("_Pliego.pdf")).as("u_pliego"),
        when(col("ok") % 5 === 0,
          concat(lit("http://mirror.example.org/"), col("_id"), lit("_Anexo.zip"))).as("u_anexo"))
      urls.selectExpr("_id", "stack(2, 'u_pliego', u_pliego, 'u_anexo', u_anexo) AS (field, url)")
        .filter(col("url").isNotNull && col("url").startsWith("http"))
        .select(col("_id"), col("field"), col("url"),
          regexp_extract(col("url"), "^https?://([^/]+)/", 1).as("host"),
          regexp_extract(col("url"), "([^/]+)$", 1).as("fname"))
        .withColumn("file_ntp", NtpIds.idFromFileName(col("fname")))
        .withColumn("ext", regexp_extract(col("fname"), "\\.([a-z]+)$", 1))
        .withColumn("accepted", col("ext").isin("pdf", "doc", "docx", "zip", "html"))
        .orderBy(col("_id"), col("field"))
    }),

    // F15/F16: header file-type sniff + meta-refresh redirect extraction
    "url_sniff" -> ((s, dir) => {
      val f = t(s, dir, "orders").select(col("o_orderkey").as("ok"),
        when(col("o_orderkey") % 4 === 0, "application/pdf")
          .when(col("o_orderkey") % 4 === 1, "text/html; charset=utf-8")
          .when(col("o_orderkey") % 4 === 2, graft.harvest.UrlSniff.DocxMime)
          .otherwise("application/octet-stream").as("ct"),
        when(col("o_orderkey") % 3 === 0,
          concat(lit("attachment; filename=\"doc_"), col("o_orderkey"), lit(".PDF\"")))
          .when(col("o_orderkey") % 3 === 1, lit("inline; filename=report .docx")).as("cd"),
        when(col("o_orderkey") % 5 === 0,
          concat(lit("<html><head><meta http-equiv=\"refresh\" content=\"5;url=/redir/"),
            col("o_orderkey"), lit(".html\"></head>")))
          .otherwise("<html><body>no refresh here</body></html>").as("html"),
        concat(lit("https://host"), (col("o_orderkey") % 20).cast("string"),
          lit(".example.es/path/doc"), col("o_orderkey"), lit(".html")).as("url"))
      f.select(col("ok"),
          graft.harvest.UrlSniff.fileTypeFromHeaders(col("ct"), col("cd")).as("file_type"),
          graft.harvest.UrlSniff.metaRefreshUrl(col("url"), col("html")).as("redirect"))
        .orderBy(col("ok"))
    }),

    // URL canonicalization + URL-level dedup (the web-corpus front
    // gate): five dirt variants per logical resource — mixed-case
    // scheme/host, default :443 port, trailing host dot, fragment,
    // trailing slashes, lowercase %-escapes, utm_*/gclid tracking
    // params (mixed case), unsorted params, surrounding whitespace —
    // must collapse to ONE canonical key per o_orderkey-div-5 group.
    // The oracle re-implements every canonicalization step generically
    // in SQL (not the generator's answer key), so the expression and
    // its DuckDB twin must agree on the ALGORITHM
    "dedup_url_canonical" -> ((s, dir) => {
      val g = expr("o_orderkey div 5").cast("long")
      val h = pmod(g, lit(20)).cast("string")
      val gs = g.cast("string")
      val ok7 = pmod(col("o_orderkey"), lit(7))
      val url = when(ok7 === 0,
          concat(lit("HTTPS://Host"), h, lit(".Example.ES/Docs/"), gs,
            lit("?q=1&x=%2fa&t=%7Eu#frag")))
        .when(ok7 === 1,
          // %44 is unreserved ('D') and must DECODE to /Docs/; %2F is
          // reserved ('/') and must stay an escape (hex uppercased)
          concat(lit("https://host"), h, lit(".example.es:443/%44ocs/"), gs,
            lit("?x=%2Fa&q=1&t=~u")))
        .when(ok7 === 2,
          concat(lit("https://host"), h, lit(".example.es./Docs/"), gs,
            lit("/?q=1&x=%2fa&utm_source=news&t=%7eu")))
        .when(ok7 === 3,
          concat(lit("  https://host"), h, lit(".example.es/Docs/"), gs,
            lit("?gclid=g"), col("o_orderkey").cast("string"), lit("&q=1&x=%2Fa&t=~u  ")))
        .when(ok7 === 5,
          // bare ':' (empty port) drops + trailing host dot strips +
          // host case lowers — must COLLAPSE into the same key as the
          // other arms (the authority edge the engines could drift on)
          concat(lit("https://Host"), h, lit(".Example.ES.:/Docs/"), gs,
            lit("?q=1&x=%2Fa&t=~u")))
        .when(ok7 === 6,
          // userinfo: split at the LAST '@', case preserved verbatim —
          // forms its own canonical key, never merges with arms 0-5
          concat(lit("https://User"), h, lit("@host"), h, lit(".example.es/Docs/"), gs,
            lit("?q=1&x=%2Fa&t=%7Eu")))
        .otherwise(
          concat(lit("https://host"), h, lit(".example.es/Docs/"), gs,
            lit("//?UTM_Source=x&q=1&x=%2Fa&t=%7Eu")))
      val f = t(s, dir, "orders").select(col("o_orderkey").as("ok"), url.as("url"))
      Dedup.urlCanonicalKeep(f, "ok", "url").orderBy(col("canon_url"))
    }),

    // F14: NIF/DNI/CIF/NIE normalization + validation
    "nif_validate" -> ((s, dir) => {
      val raw = when(col("c_custkey") % 4 === 0, concat(format_string("%08d", col("c_custkey")), lit("-Z")))
        .when(col("c_custkey") % 4 === 1, concat(lit("a"), format_string("%07d", col("c_custkey")), lit(".c")))
        .when(col("c_custkey") % 4 === 2, concat(lit("X "), format_string("%07d", col("c_custkey")), lit("L")))
        .otherwise(concat(lit("BAD"), col("c_custkey").cast("string")))
      t(s, dir, "customer").select(col("c_custkey"), raw.as("raw_id"))
        .withColumn("norm_id", Entities.normalizeId(col("raw_id")))
        .withColumn("id_type", Entities.classifyId(col("norm_id")))
        .orderBy(col("c_custkey"))
    }),

    // J4: company-enrichment left join against resolved actives
    "enrich_companies" -> ((s, dir) => {
      val latest = Versions.resolveLatest(versionsDf(s, dir), "nk", "_id", "updated")
      val companies = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
        .select(NtpIds.setNtpId(col("c_custkey")).as("pid"), upper(col("c_name")).as("company"))
      companies.join(latest.select(col("_id"), col("nk"), col("status")),
          col("pid") === col("_id"), "left_outer")
        .select(col("pid"), col("company"), col("nk"), col("status"))
        .orderBy(col("pid"))
    }),

    // J3: obsolete-pointer chain resolution to the active head
    "ntp_chain_resolve" -> ((s, dir) => {
      val w = Window.partitionBy(col("nk")).orderBy(col("updated").desc, col("_id").desc)
      val ranked = versionsDf(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("prev", lag(col("_id"), 1).over(w))
      val edges = ranked.filter(col("rn") > 1).select(col("_id").as("src"), col("prev").as("dst"))
      Versions.resolveChains(edges, "src", "dst", 64).orderBy(col("src"))
    }),

    // multimodal plumbing: opaque byte length + content digest per doc
    "multimodal_meta" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text")).as("digest"))
        .orderBy(col("doc_id"))
    }),

    // REAL image decode under the driver's hash gate: per-doc gray PNGs
    // (dims + pixels derived from table columns) go through the JVM's
    // actual PNG encoder, then decodeImages reads width/height/bands and
    // the raster sample sum back out of the BYTES via javax.imageio. The
    // oracle recomputes dims and pixel sum in pure arithmetic — PNG is
    // lossless, so a single mismatched pixel anywhere fails the hash.
    "multimodal_decode" -> ((s, dir) => {
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (lit(1) + col("doc_id") % 16).cast("int").as("w"),
        (lit(1) + col("n_chars").cast("long") % 16).cast("int").as("h"))
      Multimodal.decodeImages(Multimodal.grayPngTable(dims, "doc_id", "w", "h"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bands").cast("long").as("channels"),
          col("pix_sum").cast("long").as("pix_sum"))
        .orderBy(col("doc_id"))
    }),

    // REAL animation decode under the driver's hash gate: per-doc
    // multi-frame GIFs go through the JVM's actual GIF sequence writer,
    // then sampleAnimationFrames reads frame count and every 2nd frame's
    // dims + palette-resolved pixel sum back out of the BYTES. The
    // indexed-gray encode is lossless, so the oracle recomputes each
    // sampled frame's sum in pure arithmetic — frame-sampling for
    // animated media made real (the remaining stub is only formats the
    // JVM has no reader for).
    "multimodal_frames" -> ((s, dir) => {
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (lit(2) + col("doc_id") % 5).cast("int").as("w"),
        (lit(2) + col("n_chars").cast("long") % 4).cast("int").as("h"),
        (lit(1) + col("doc_id") % 3).cast("int").as("nf"))
      Multimodal.sampleAnimationFrames(
          Multimodal.grayGifTable(dims, "doc_id", "w", "h", "nf"), stride = 2)
        .select(col("media_id").as("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("px_sum"))
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    // REAL audio decode under the driver's hash gate — the WAV twin of
    // multimodal_decode: per-doc PCM16 tones go through the JVM's actual
    // WAV encoder, then decodeAudio reads rate/channels/bits/frames and
    // the sample sum back out of the BYTES via javax.sound.sampled. PCM
    // is lossless, so the oracle recomputes the sum in pure arithmetic.
    "multimodal_audio" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(col("doc_id"),
        lit(8000).as("rate"),
        (lit(16) + col("n_chars").cast("long") % 240).cast("int").as("n"))
      Multimodal.decodeAudio(Multimodal.wavTable(spec, "doc_id", "rate", "n"))
        .select(col("media_id").as("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("n_frames"), col("sample_sum"))
        .orderBy(col("doc_id"))
    }),

    // perceptual image hash under the driver's hash gate: per-doc gray
    // PNGs (pattern decoupled from the id, so content repeats across
    // docs) go through the real encoder, then averageHash64 pools the
    // REAL decoded raster onto an 8x8 grid and thresholds each bucket
    // against the image mean by integer cross-multiplication — which is
    // why DuckDB can recompute all 64 bits in plain arithmetic. The
    // near-dup half (banded Hamming join over these hashes) is
    // spec-pinned; this row proves the hash bits themselves.
    "multimodal_phash" -> ((s, dir) => {
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (lit(8) + col("doc_id") % 9).cast("int").as("w"),
        (lit(8) + col("n_chars").cast("long") % 9).cast("int").as("h"),
        (col("doc_id") % 40).as("pat"))
      Multimodal.imageHashes(Multimodal.grayPngTable(dims, "doc_id", "w", "h", "pat"))
        .select(col("media_id").as("doc_id"), col("ahash"))
        .orderBy(col("doc_id"))
    }),

    // the audio twin of multimodal_phash: real PCM16 WAVs through the
    // JVM codec, energy-envelope fingerprint (64 time windows, integer
    // cross-multiplied mean compare) recomputed bit-for-bit by the
    // oracle; n >= 64 so every window is populated
    "multimodal_audio_hash" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(col("doc_id"),
        lit(8000).as("rate"),
        (lit(64) + col("n_chars").cast("long") % 192).cast("int").as("n"),
        (col("doc_id") % 40).as("tone"))
      Multimodal.audioHashes(Multimodal.wavTable(spec, "doc_id", "rate", "n", "tone"))
        .select(col("media_id").as("doc_id"), col("ahash"))
        .orderBy(col("doc_id"))
    }),

    // S1/ORC: the second lake format — a parquet table landed as ORC and
    // read back through Sources.loadOrc must round-trip every type
    // (int64/string/double/timestamp_ntz) bit-exactly vs the parquet
    // oracle; the filter proves ORC predicate pushdown yields the same
    // row set the oracle's WHERE does
    "ingest_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc_q").toString
      val orc = tmp + "/orders_orc"
      t(s, dir, "orders").write.orc(orc)
      val out = graft.sources.Sources.loadOrc(s, orc)
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
        .localCheckpoint(true) // the scratch ORC dir is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // S4-shape: code parse out of a delimited string column
    "cpv_parse_codes" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), regexp_extract(col("source"), "([0-9]+)", 1).cast("long").as("code"))
        .groupBy(col("source"), col("code")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"))
    }),

    // F5: native codegen'd unidecode expression vs DuckDB strip_accents
    "ingest_unidecode" -> ((s, dir) => {
      t(s, dir, "nation")
        .select(col("n_name"),
          UnidecodeEs.unidecode_es(concat(lit("Canción número uno: "), col("n_name"))).as("plain"))
        .orderBy(col("n_name"))
    }),

    // skew posture: two-phase salted aggregation == direct groupBy
    "q_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedCountSum(
          t(s, dir, "events"), "event_type", round(col("value") * 100).cast("long"))
        .select(col("event_type"), col("n"),
          (col("sum_cents").cast("double") / 100.0).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // as-of join: for each odd-keyed version (query), the customer's
    // latest even-keyed version at-or-before it (union + window — one
    // shuffle; DuckDB's native ASOF JOIN is the oracle)
    "q_asof_prev_version" -> ((s, dir) => {
      val v = versionsDf(s, dir)
      val queries = v.filter(col("ok") % 2 === 1)
      val wDedup = Window.partitionBy(col("nk"), col("updated")).orderBy(col("_id").desc)
      val quotes = v.filter(col("ok") % 2 === 0)
        .withColumn("rn", row_number().over(wDedup)).filter(col("rn") === 1).drop("rn")
      graft.ops.AsOfJoin.asOfLatest(queries, quotes, "nk", "_id", "updated")
        .select(col("_id").as("query_id"), col("nk"), col("matched_id"))
        .orderBy(col("query_id"))
    }),

    // F7: string-encoded list parse (from_json, never eval) + explode
    "ingest_parse_list" -> ((s, dir) => {
      t(s, dir, "part")
        .select(concat(lit("['"), col("p_brand"), lit("','"), col("p_type"), lit("']")).as("enc"))
        .select(explode(Normalize.parseListString(col("enc"))).as("element"))
        .groupBy(col("element")).agg(count(lit(1)).as("n"))
        .orderBy(col("element"))
    }))

  // ------------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = Map(
    "txt_token_stats" -> (tkCte +
      """
        |SELECT doc_id, len(toks) AS n_tokens,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> CAST(ascii(t) AS BIGINT))),
        |                   (a, b) -> (a * 31 + b) % 1000000007) AS rhash,
        |       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM tk ORDER BY doc_id""".stripMargin),

    "txt_langid" -> (tkCte +
      s""",
         |sc AS (SELECT doc_id, lang,
         |  len(list_filter(toks, t -> list_contains(${swList("de")}, t))) AS s_de,
         |  len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS s_en,
         |  len(list_filter(toks, t -> list_contains(${swList("es")}, t))) AS s_es,
         |  len(list_filter(toks, t -> list_contains(${swList("fr")}, t))) AS s_fr
         |FROM tk)
         |SELECT doc_id,
         |  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS lang_pred,
         |  lang AS lang_label
         |FROM sc ORDER BY doc_id""".stripMargin),

    "txt_quality" -> (tkCte +
      s""",
         |m AS (SELECT doc_id, text, toks,
         |  len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS sh
         |FROM tk)
         |SELECT doc_id,
         |  0.4 * least(len(toks) / 100.0, 1.0)
         |  + 0.3 * least((CASE WHEN len(toks) > 0 THEN CAST(sh AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
         |  + 0.3 * (CASE WHEN length(text) > 0
         |           THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |           ELSE 0.0 END) AS quality
         |FROM m ORDER BY doc_id""".stripMargin),

    // the served sidecar == a from-scratch recompute of every stat
    "txt_stats_incremental" -> (tkCte +
      s""",
         |sc AS (SELECT doc_id, text, toks,
         |  len(list_filter(toks, t -> list_contains(${swList("de")}, t))) AS s_de,
         |  len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS s_en,
         |  len(list_filter(toks, t -> list_contains(${swList("es")}, t))) AS s_es,
         |  len(list_filter(toks, t -> list_contains(${swList("fr")}, t))) AS s_fr
         |FROM tk)
         |SELECT doc_id AS doc, md5(text) AS fp, len(toks) AS n_tokens,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> CAST(ascii(t) AS BIGINT))),
         |              (a, b) -> (a * 31 + b) % 1000000007) AS rhash,
         |  0.4 * least(len(toks) / 100.0, 1.0)
         |  + 0.3 * least((CASE WHEN len(toks) > 0 THEN CAST(s_en AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
         |  + 0.3 * (CASE WHEN length(text) > 0
         |           THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |           ELSE 0.0 END) AS quality,
         |  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS lang
         |FROM sc ORDER BY doc""".stripMargin),

    "txt_lm_score" -> lmScoreSql,

    // both signals recomputed from scratch, then the same composed gate
    "q_quality_gate" -> (tkCte +
      s""",
         |m AS (SELECT doc_id, text, toks,
         |  len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS sh
         |FROM tk),
         |qs AS (SELECT doc_id,
         |  0.4 * least(len(toks) / 100.0, 1.0)
         |  + 0.3 * least((CASE WHEN len(toks) > 0 THEN CAST(sh AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
         |  + 0.3 * (CASE WHEN length(text) > 0
         |           THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |           ELSE 0.0 END) AS q
         |FROM m),
         |bgf AS (
         |  SELECT doc_id, b.prev AS prev, b.cur AS cur
         |  FROM (SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
         |          i -> struct_pack(prev := toks[i-1], cur := toks[i]))) AS b
         |        FROM tk WHERE len(toks) >= 2)),
         |c2 AS (SELECT prev, cur, count(*) AS c2 FROM bgf GROUP BY prev, cur),
         |c1 AS (SELECT prev, count(*) AS c1 FROM bgf GROUP BY prev),
         |sc AS (SELECT c2.prev, c2.cur, CAST((1000000 * c2.c2) // c1.c1 AS BIGINT) AS ppm
         |       FROM c2 JOIN c1 USING (prev)),
         |lm AS (SELECT doc_id, CAST(sum(ppm) // count(*) AS BIGINT) AS avg_ppm
         |       FROM bgf JOIN sc USING (prev, cur) GROUP BY doc_id)
         |SELECT dd.source, count(*) AS n_total,
         |       CAST(sum(CASE WHEN qs.q >= 0.55 AND coalesce(lm.avg_ppm, 0) >= 33000
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents dd JOIN qs USING (doc_id) LEFT JOIN lm USING (doc_id)
         |GROUP BY dd.source ORDER BY dd.source""".stripMargin),

    // segment merge is exact count addition, so the incremental serve
    // must reproduce the from-scratch model bit-for-bit
    "txt_lm_incremental" -> lmScoreSql,

    // deflate isn't SQL-expressible: the oracle pins the exact n_docs and
    // the expected truth of the envelope contract
    "txt_compress_ratio" ->
      """SELECT source, count(*) AS n_docs,
        |       true AS min_in_range, true AS max_in_range, true AS avg_in_range
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "txt_top_tokens" -> (tkCte +
      """
        |SELECT token, count(*) AS n
        |FROM (SELECT unnest(toks) AS token FROM tk)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    "txt_chunk_overlap" -> (tkCte +
      """,
        |ex AS (SELECT doc_id, toks,
        |              unnest(range(CASE WHEN len(toks) = 0 THEN 0
        |                                ELSE (len(toks) - 1) // 48 + 1 END)) AS i
        |       FROM tk)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, i AS chunk_id,
        |       array_to_string(toks[CAST(i*48+1 AS BIGINT):CAST(i*48+64 AS BIGINT)], ' ') AS chunk,
        |       CAST(len(toks[CAST(i*48+1 AS BIGINT):CAST(i*48+64 AS BIGINT)]) AS BIGINT) AS n_tokens
        |FROM ex ORDER BY doc_id, chunk_id""".stripMargin),

    "txt_bm25_topk" -> bm25OracleSql,

    // identical recompute oracle: the indexed probe must match the
    // from-scratch BM25 bit-for-bit
    "txt_bm25_indexed" -> bm25OracleSql,

    "txt_redact_pii" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.EmailRegex}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.Ipv4Regex}')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.PhoneRegex}')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |      '(?i)${TextAnalysis.EmailRegex}', '[email]', 'g'),
         |      '(?i)${TextAnalysis.Ipv4Regex}', '[ip]', 'g'),
         |      '(?i)${TextAnalysis.PhoneRegex}', '[phone]', 'g')) AS redacted_fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    // detok is a merge-free statement (pre-tokens joined by spaces) —
    // the id count still replays the 12 training rounds so BOTH ends
    // of the round trip are pinned
    "txt_bpe_roundtrip" -> (bpeTrainCtes("") + s""",
       |aw AS (SELECT r.doc_id, w.word FROM rwall r JOIN wmap w ON r.rword = w.rword),
       |dcount AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n FROM aw GROUP BY doc_id, word),
       |vseq AS (SELECT word, regexp_replace(word, '(.)', ' \\1|', 'g') || ' </w>|' AS seq
       |         FROM (SELECT DISTINCT word FROM aw)),
       |vfin AS (SELECT v.word, $bpeApplyExpr AS seq
       |         FROM vseq v, ${(1 to BpeMerges).map("m" + _).mkString(", ")}),
       |wt AS (SELECT word, CAST(len(string_split(substr(seq, 2), ' ')) AS BIGINT) AS t FROM vfin),
       |det AS (SELECT doc_id,
       |          array_to_string(regexp_extract_all($bpeAugTextSql, '${graft.ops.Bpe.PreTokenRegex}'), ' ') AS detok
       |        FROM documents),
       |cnt AS (SELECT d.doc_id, CAST(SUM(d.n * w.t) AS BIGINT) AS n_ids
       |        FROM dcount d JOIN wt w USING (word) GROUP BY d.doc_id)
       |SELECT det.doc_id, det.detok, cnt.n_ids
       |FROM det JOIN cnt USING (doc_id) ORDER BY doc_id""".stripMargin),

    // the regex constant is shared with the Spark side; ASCII classes +
    // no lookaheads keep Java and RE2 dialects identical
    "txt_bpe_tokens" -> (tkCte +
      s"""
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.BpeTokenRegex.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens
         |FROM tk ORDER BY doc_id""".stripMargin),

    // 12 unrolled BPE merge rounds: per round a vocab-wide adjacent-pair
    // count, the (count DESC, lhs, rhs) argmax, and the greedy merge as
    // one left-to-right string replace on the symbol sequence — every
    // symbol carries a leading space AND a trailing '|' terminator, so
    // the ' x| y|' pattern is bounded on both sides (a merge whose rhs
    // is a PREFIX of the next symbol cannot fire — the round-15 advisor
    // bug) and replace's non-overlapping scan coincides with BPE's
    // greedy merge in both engines. MATERIALIZED is load-bearing: each
    // round references its predecessor twice, so inlined CTEs would
    // expand the chain 2^12 times
    "txt_bpe_train" -> (bpeTrainCtes("") + "\n" +
      (1 to BpeMerges).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, x AS lhs, y AS rhs, x||y AS merged, c AS cnt FROM m$i")
        .mkString("\nUNION ALL\n") + "\nORDER BY merge_rank"),

    // pinned-vocab token-id streams: the 12 training rounds, per-word
    // token lists under the learned merges, ids via the shared scheme
    // ('</w>'=0, base byte b = b+1 via the bm relation, merged = 256 +
    // min producing rank), and global per-doc positions from a
    // word-length prefix sum — gating the NATIVE BpeEncode expression
    // (and the byte_map boundary) end to end
    "txt_bpe_ids" -> (bpeTrainCtes("") + s""",
       |vocab AS (SELECT sym, CAST(256 + min(r) AS BIGINT) AS vid FROM (
       |  ${(1 to BpeMerges).map(i => s"SELECT x||y AS sym, $i AS r FROM m$i").mkString("\n  UNION ALL\n  ")}
       |) GROUP BY sym),
       |awp AS (SELECT r.doc_id, r.wpos, w.word FROM rwall r JOIN wmap w ON r.rword = w.rword),
       |vseq AS (SELECT word, regexp_replace(word, '(.)', ' \\1|', 'g') || ' </w>|' AS seq
       |         FROM (SELECT DISTINCT word FROM awp)),
       |vfin AS (SELECT v.word, $bpeApplyExpr AS seq
       |         FROM vseq v, ${(1 to BpeMerges).map("m" + _).mkString(", ")}),
       |wtoks AS (SELECT word, string_split(substr(replace(seq, '|', ''), 2), ' ') AS toks FROM vfin),
       |wtok AS (SELECT word, gi AS tp, toks[gi] AS tok FROM (
       |  SELECT word, toks, unnest(generate_series(1, len(toks))) AS gi FROM wtoks)),
       |wtid AS (SELECT word, tp,
       |  CASE WHEN tok = '</w>' THEN 0
       |       WHEN len(tok) = 1 THEN bmr.bv + 1
       |       ELSE v.vid END AS tid
       |  FROM wtok LEFT JOIN vocab v ON wtok.tok = v.sym
       |            LEFT JOIN bm bmr ON wtok.tok = bmr.mc),
       |wlen AS (SELECT word, CAST(len(toks) AS BIGINT) AS wl FROM wtoks),
       |offs AS (SELECT a.doc_id, a.wpos, a.word,
       |  COALESCE(SUM(w.wl) OVER (PARTITION BY a.doc_id ORDER BY a.wpos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
       |  FROM awp a JOIN wlen w USING (word))
       |SELECT f.doc_id, CAST(f.o + t.tp - 1 AS BIGINT) AS pos, CAST(t.tid AS BIGINT) AS token_id
       |FROM offs f JOIN wtid t USING (word)
       |ORDER BY doc_id, pos""".stripMargin),

    // the same 12 training rounds recomputed on the doc_id%3<>2 subset
    // (the journey's pinned-vocab build), then the learned merges
    // applied to the FULL corpus vocabulary and per-doc counts summed —
    // gates build, pinned refresh, and the cache/inline serve seam
    "txt_bpe_apply" -> (bpeTrainCtes(" WHERE doc_id % 3 <> 2") + s""",
       |aw AS (SELECT r.doc_id, w.word FROM rwall r JOIN wmap w ON r.rword = w.rword),
       |dcount AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n FROM aw GROUP BY doc_id, word),
       |vseq AS (SELECT word, regexp_replace(word, '(.)', ' \\1|', 'g') || ' </w>|' AS seq
       |         FROM (SELECT DISTINCT word FROM aw)),
       |vfin AS (SELECT v.word, $bpeApplyExpr AS seq
       |         FROM vseq v, ${(1 to BpeMerges).map("m" + _).mkString(", ")}),
       |wt AS (SELECT word, CAST(len(string_split(substr(seq, 2), ' ')) AS BIGINT) AS t FROM vfin)
       |SELECT d.doc_id, CAST(SUM(d.n * w.t) AS BIGINT) AS n_bpe_tokens
       |FROM dcount d JOIN wt w USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    "txt_repetition" -> (tkCte +
      """,
        |gr AS (SELECT doc_id, toks,
        |         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs,
        |         list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tgs
        |       FROM tk),
        |fr AS (SELECT doc_id,
        |  CASE WHEN len(toks) > 0
        |       THEN CAST(list_max(list_transform(list_distinct(toks), t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
        |            / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS top_token_frac,
        |  CASE WHEN len(bgs) > 0
        |       THEN CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE) / CAST(len(bgs) AS DOUBLE)
        |       ELSE 0.0 END AS dup_bigram_frac,
        |  CASE WHEN len(tgs) > 0
        |       THEN CAST(len(tgs) - len(list_distinct(tgs)) AS DOUBLE) / CAST(len(tgs) AS DOUBLE)
        |       ELSE 0.0 END AS dup_trigram_frac
        |  FROM gr)
        |SELECT doc_id, top_token_frac, dup_bigram_frac, dup_trigram_frac,
        |       (top_token_frac > 0.125 OR dup_bigram_frac > 0.2 OR dup_trigram_frac > 0.15) AS repetitive
        |FROM fr ORDER BY doc_id""".stripMargin),

    "q_corpus_summary" -> (tkCte +
      """
        |SELECT coalesce(source, '(all)') AS dim_source,
        |       coalesce(lang, '(all)') AS dim_lang,
        |       count(*) AS n_docs,
        |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT t.toks, d.source, d.lang, d.n_chars
        |      FROM tk t JOIN documents d ON t.doc_id = d.doc_id)
        |GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())
        |ORDER BY dim_source, dim_lang""".stripMargin),

    "q_shard_assign" -> (tkCte +
      """
        |SELECT substr(md5(text), 1, 1) AS shard, count(*) AS n_docs,
        |       CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
        |FROM tk GROUP BY shard ORDER BY shard""".stripMargin),

    "q_pack_sequences" -> (tkCte +
      """,
        |d AS (SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        |      FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS toks,
        |                   source FROM documents) x),
        |s AS (SELECT source, doc_id, n_tokens,
        |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |      FROM d)
        |SELECT source, doc_id, n_tokens,
        |       CAST(start // 512 AS BIGINT) AS bin, CAST(start % 512 AS BIGINT) AS offset
        |FROM s ORDER BY source, doc_id""".stripMargin),

    // the learned-token packing axis: full 12-round training recompute,
    // per-doc learned counts, left join (docs with no pre-token pack as
    // zero), then the identical prefix-sum window
    "q_pack_sequences_bpe" -> (bpeTrainCtes("") + s""",
       |aw AS (SELECT r.doc_id, w.word FROM rwall r JOIN wmap w ON r.rword = w.rword),
       |dcount AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n FROM aw GROUP BY doc_id, word),
       |vseq AS (SELECT word, regexp_replace(word, '(.)', ' \\1|', 'g') || ' </w>|' AS seq
       |         FROM (SELECT DISTINCT word FROM aw)),
       |vfin AS (SELECT v.word, $bpeApplyExpr AS seq
       |         FROM vseq v, ${(1 to BpeMerges).map("m" + _).mkString(", ")}),
       |wt AS (SELECT word, CAST(len(string_split(substr(seq, 2), ' ')) AS BIGINT) AS t FROM vfin),
       |dt AS (SELECT d.doc_id, CAST(SUM(d.n * w.t) AS BIGINT) AS nt
       |       FROM dcount d JOIN wt w USING (word) GROUP BY d.doc_id),
       |dd AS (SELECT doc_id, source, CAST(coalesce(dt.nt, 0) AS BIGINT) AS n_tokens
       |       FROM documents LEFT JOIN dt USING (doc_id)),
       |sx AS (SELECT source, doc_id, n_tokens,
       |         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
       |       FROM dd)
       |SELECT source, doc_id, n_tokens,
       |       CAST(start // 512 AS BIGINT) AS bin, CAST(start % 512 AS BIGINT) AS offset
       |FROM sx ORDER BY source, doc_id""".stripMargin),

    // the fold recurrence as a recursive CTE: row i's (bin, offset)
    // derive from row i-1's fill — candidate offset cand = prev offset +
    // prev tokens; a doc that would overflow a NON-empty bin opens the
    // next (identical condition to the Spark-side fold)
    "q_pack_nostraddle" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT source, doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |d AS (SELECT source, doc_id, n_tokens,
        |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |      FROM d0),
        |p AS (
        |  SELECT source, rn, doc_id, n_tokens,
        |         CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.rn, d.doc_id, d.n_tokens,
        |    CASE WHEN p.off + p.n_tokens > 0 AND p.off + p.n_tokens + d.n_tokens > 512
        |         THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.off + p.n_tokens > 0 AND p.off + p.n_tokens + d.n_tokens > 512
        |         THEN CAST(0 AS BIGINT) ELSE p.off + p.n_tokens END
        |  FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1)
        |SELECT source, doc_id, n_tokens, CAST(bin AS BIGINT) AS bin, CAST(off AS BIGINT) AS offset
        |FROM p ORDER BY source, doc_id""".stripMargin,

    "q_sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY md5('s0' || text), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin,

    // selection depends ONLY on the global cumulative sums in hash order
    // — Spark's range-partitioned two-pass scan must agree bit-for-bit
    // with the window prefix sum. Operands positive, so truncating div
    // is floor in both engines; the window SUM is HUGEINT → cast
    "q_sample_pps" ->
      """WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
        |                  md5('s0' || CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, weight,
        |             SUM(weight) OVER (ORDER BY h, doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM w)
        |SELECT doc_id, weight, CAST(cum // 997 - (cum - weight) // 997 AS BIGINT) AS copies
        |FROM c WHERE cum // 997 > (cum - weight) // 997
        |ORDER BY doc_id""".stripMargin,

    "q_shuffle_order" ->
      """WITH h AS (SELECT doc_id, md5('s0' || CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents),
        |p AS (SELECT doc_id, row_number() OVER (ORDER BY h) - 1 AS pos FROM h)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |       CAST(pos % 16 AS BIGINT) AS shard
        |FROM p ORDER BY pos""".stripMargin,

    "txt_nfc_dedup" ->
      """SELECT doc_id,
        |  CAST(length(raw) - length(nfc_normalize(raw)) AS BIGINT) AS delta,
        |  md5(nfc_normalize(raw)) = md5('Jos' || chr(233) || ' ni' || chr(241) || 'o ' || text) AS composed_match
        |FROM (SELECT doc_id, text, 'Jose' || chr(769) || ' nin' || chr(771) || 'o ' || text AS raw
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "q_sample_mixture" ->
      """WITH wts AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wts),
        |a AS (SELECT source, w, CAST((200*w) // tw AS BIGINT) AS fl,
        |             CAST((200*w) % tw AS BIGINT) AS rem FROM wts, tot),
        |r AS (SELECT source, fl, row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |             CAST(200 - (SELECT sum(fl) FROM a) AS BIGINT) AS leftover FROM a),
        |alloc AS (SELECT source AS asrc,
        |                 CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc FROM r),
        |rk AS (SELECT source, doc_id, text,
        |              row_number() OVER (PARTITION BY source ORDER BY md5('s0' || text), doc_id) AS rn
        |       FROM documents)
        |SELECT source, doc_id, alloc FROM rk JOIN alloc ON source = asrc
        |WHERE rn <= alloc ORDER BY source, doc_id""".stripMargin,

    "sim_label_stats" ->
      """SELECT CAST(label AS BIGINT) AS label, i - 1 AS component, count(*) AS n,
        |       CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS csum_nano
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i ORDER BY label, component""".stripMargin,

    "q_token_budget" -> (tkCte +
      s""",
         |m AS (SELECT doc_id, text, toks,
         |  len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS sh
         |FROM tk),
         |q AS (SELECT doc_id,
         |  0.4 * least(len(toks) / 100.0, 1.0)
         |  + 0.3 * least((CASE WHEN len(toks) > 0 THEN CAST(sh AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
         |  + 0.3 * (CASE WHEN length(text) > 0
         |           THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |           ELSE 0.0 END) AS quality,
         |  CAST(len(toks) AS BIGINT) AS n_tokens
         |FROM m),
         |s AS (SELECT d.source, q.doc_id, q.n_tokens,
         |        COALESCE(SUM(q.n_tokens) OVER (PARTITION BY d.source
         |                   ORDER BY q.quality DESC, q.doc_id
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |      FROM q JOIN documents d ON q.doc_id = d.doc_id)
         |SELECT source, doc_id, n_tokens, CAST(start AS BIGINT) AS start
         |FROM s WHERE start < 600 ORDER BY source, doc_id""".stripMargin),

    // same synthetic URL, same host regexp, same last-two-labels
    // registrable domain, same prefix-sum cap — in SQL
    "q_domain_budget" -> (tkCte +
      s""",
        |du AS (SELECT d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |         'https://' || d.source || '.d' || CAST(d.doc_id % 7 AS VARCHAR) ||
        |         CASE WHEN d.doc_id % 7 < 2 THEN '.co.uk' ELSE '.org' END ||
        |         '/doc/' || CAST(d.doc_id AS VARCHAR) AS url
        |       FROM tk t JOIN documents d ON t.doc_id = d.doc_id),
        |dm AS (SELECT doc_id, n_tokens,
        |         ${graft.ops.Curation.registrableDomainSql(
                     "regexp_extract(url, '^https?://([^/]+)/', 1)")} AS domain
        |       FROM du),
        |sx AS (SELECT domain, doc_id, n_tokens,
        |         COALESCE(SUM(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |       FROM dm)
        |SELECT domain, doc_id, n_tokens, CAST(start AS BIGINT) AS start
        |FROM sx WHERE start < 900 ORDER BY domain, doc_id""".stripMargin),

    "dedup_exact_stats" ->
      """SELECT count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_distinct_text,
        |       count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS n_distinct_fp
        |FROM documents""".stripMargin,

    "dedup_exact_keep" ->
      """SELECT lang, n_chars, min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY lang, n_chars ORDER BY lang, n_chars""".stripMargin,

    // blocks via per-row unnest(range(...)) (a lateral range() can't see
    // row columns in DuckDB); 1-based inclusive list slicing mirrors
    // Spark's slice(toks, i*8+1, 8)
    "dedup_spans_global" -> (tkCte +
      """,
        |b0 AS (SELECT doc_id, toks,
        |         unnest(range(0, CAST(ceil(len(toks)/8.0) AS BIGINT))) AS i
        |       FROM tk),
        |b AS (SELECT doc_id, i AS block_idx,
        |         array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS block
        |      FROM b0),
        |k AS (SELECT doc_id, block_idx, block,
        |         min(doc_id) OVER (PARTITION BY block) AS keep_doc
        |      FROM b),
        |agg AS (SELECT doc_id, count(*) AS n_blocks,
        |          CAST(sum(CASE WHEN doc_id <> keep_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |          string_agg(CASE WHEN doc_id = keep_doc THEN block END, ' ' ORDER BY block_idx) AS text_clean
        |        FROM k GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_blocks, 0) AS BIGINT) AS n_blocks,
        |       CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped,
        |       coalesce(a.text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // sliding 8-gram occurrences, struct-min canonical (both engines
    // order structs lexicographically), extent union over non-canonical
    // occurrences, token-level reassembly. The planted one-token-shifted
    // copies are derived in SQL exactly like the Spark input
    "dedup_spans_anyalign" -> {
      val W = 8
      s"""WITH inp AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, 'prefixtoken ' || text
         |  FROM documents WHERE doc_id % 100 = 0),
         |tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks FROM inp),
         |oc AS (SELECT doc_id, i - 1 AS pos,
         |         md5(array_to_string(toks[i:i+${W - 1}], ' ')) AS h
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - $W + 2)) AS i
         |             FROM tk WHERE len(toks) >= $W)),
         |cn AS (SELECT h, min(struct_pack(d := doc_id, p := pos)) AS c FROM oc GROUP BY h),
         |mk AS (SELECT o.doc_id, o.pos FROM oc o JOIN cn ON o.h = cn.h
         |       WHERE struct_extract(cn.c, 'd') <> o.doc_id OR struct_extract(cn.c, 'p') <> o.pos),
         |dp AS (SELECT DISTINCT doc_id, pos + u AS p FROM mk, UNNEST(range(0, $W)) AS t(u)),
         |tr AS (SELECT doc_id, len(toks) AS n, i - 1 AS p, toks[i] AS tok
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tk)),
         |ag AS (SELECT t.doc_id, CAST(max(t.n) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN d.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tokens,
         |         string_agg(CASE WHEN d.p IS NULL THEN t.tok END, ' ' ORDER BY t.p) AS text_clean
         |       FROM tr t LEFT JOIN dp d ON t.doc_id = d.doc_id AND t.p = d.p
         |       GROUP BY t.doc_id)
         |SELECT i.doc_id, CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         |       coalesce(a.text_clean, '') AS text_clean
         |FROM inp i LEFT JOIN ag a ON i.doc_id = a.doc_id
         |ORDER BY i.doc_id""".stripMargin
    },

    "dedup_minhash_sig" -> (mhCte +
      "\nSELECT doc_id, " + (0 until 8).map(k => s"h$k").mkString(", ") +
      " FROM mh ORDER BY doc_id"),

    "dedup_minhash_pairs" -> (bandsCte + "\n" + candSelect + "\nORDER BY a, b"),

    // the incremental index must converge to exactly the from-scratch
    // candidate set over the full corpus
    "dedup_incremental" -> (bandsCte + "\n" + candSelect + "\nORDER BY a, b"),

    "dedup_jaccard_verify" -> (bandsCte +
      s""",
         |cand AS ($candSelect)
         |SELECT cand.a AS a, cand.b AS b,
         |       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jac
         |FROM cand JOIN sh sa ON cand.a = sa.doc_id JOIN sh sb ON cand.b = sb.doc_id
         |ORDER BY a, b""".stripMargin),

    "dedup_containment" -> (shCte +
      """
        |SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / CAST(len(sa.sh) AS DOUBLE) AS containment
        |FROM sh sa JOIN sh sb ON sa.doc_id <> sb.doc_id
        |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / CAST(len(sa.sh) AS DOUBLE) >= 0.75
        |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_decontaminate" -> (shCte +
      """,
        |ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 10 <> 0)
        |SELECT DISTINCT tr.doc_id AS doc_id
        |FROM tr JOIN ev USING (s)
        |ORDER BY doc_id""".stripMargin),

    "dedup_contamination_report" -> (shCte +
      """,
        |ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 10 <> 0),
        |rep AS (SELECT tr.doc_id, count(*) AS n_shingles,
        |               sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
        |        FROM tr LEFT JOIN ev ON tr.s = ev.s
        |        GROUP BY tr.doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(n_shingles AS BIGINT) AS n_shingles,
        |       CAST(n_shared AS BIGINT) AS n_shared,
        |       CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap
        |FROM rep WHERE n_shared > 0 ORDER BY doc_id""".stripMargin),

    "dedup_decontaminate_exact" ->
      """SELECT DISTINCT d.doc_id AS doc_id
        |FROM documents d
        |JOIN (SELECT DISTINCT substr(text, 1, 64) AS needle
        |      FROM documents WHERE doc_id % 10 = 0 AND length(text) > 0) e
        |  ON contains(d.text, e.needle)
        |WHERE d.doc_id % 10 <> 0
        |ORDER BY doc_id""".stripMargin,

    "dedup_clusters" -> (bandsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      s""",
         |cand AS ($candSelect),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u)
         |SELECT d.doc_id, least(coalesce(r.mn, d.doc_id), d.doc_id) AS component,
         |       d.doc_id = least(coalesce(r.mn, d.doc_id), d.doc_id) AS keep
         |FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
         |ORDER BY d.doc_id""".stripMargin),

    // the incrementally-maintained labels must converge to exactly the
    // from-scratch components over the final corpus
    "dedup_cluster_incremental" -> (bandsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      s""",
         |cand AS ($candSelect),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u)
         |SELECT d.doc_id, least(coalesce(r.mn, d.doc_id), d.doc_id) AS component,
         |       d.doc_id = least(coalesce(r.mn, d.doc_id), d.doc_id) AS keep
         |FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
         |ORDER BY d.doc_id""".stripMargin),

    "dedup_canonical" -> (bandsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      s""",
         |cand AS ($candSelect),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (SELECT u, v FROM sym UNION SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u),
         |qv AS (SELECT doc_id,
         |  0.4 * least(len(toks) / 100.0, 1.0)
         |  + 0.3 * least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
         |  + 0.3 * (CASE WHEN length(text) > 0
         |           THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |           ELSE 0.0 END) AS quality
         |  FROM tk),
         |cmp AS (SELECT d.doc_id, least(coalesce(r.mn, d.doc_id), d.doc_id) AS component
         |        FROM documents d LEFT JOIN reach r ON d.doc_id = r.u),
         |rk AS (SELECT c.doc_id, c.component, q.quality,
         |         row_number() OVER (PARTITION BY c.component ORDER BY q.quality DESC, c.doc_id ASC) AS rn
         |       FROM cmp c JOIN qv q ON c.doc_id = q.doc_id)
         |SELECT doc_id, component, quality, rn = 1 AS keep
         |FROM rk ORDER BY doc_id""".stripMargin),

    // the capstone oracle composes the verified fragments: train-restricted
    // LSH pairs + reachability min-label, shingle semi-join contamination,
    // the quality formula, then the packing prefix sum over survivors
    "corpus_pipeline" -> (bandsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      s""",
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
         |           AND x.doc_id < y.doc_id
         |         WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 <> 0),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (SELECT u, v FROM sym UNION SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u),
         |contam AS (SELECT tr.doc_id AS doc_id
         |           FROM (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 10 <> 0) tr
         |           JOIN (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 10 = 0) ev USING (s)
         |           GROUP BY tr.doc_id HAVING count(*) >= 8),
         |qv AS (SELECT doc_id,
         |  0.4 * least(len(toks) / 100.0, 1.0)
         |  + 0.3 * least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
         |  + 0.3 * (CASE WHEN length(text) > 0
         |           THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |           ELSE 0.0 END) AS quality
         |  FROM tk WHERE doc_id % 10 <> 0),
         |kept AS (SELECT d.doc_id, d.source,
         |           CAST(len(t.toks) AS BIGINT) AS n_tokens
         |         FROM documents d
         |         JOIN tk t ON d.doc_id = t.doc_id
         |         JOIN qv q ON d.doc_id = q.doc_id
         |         LEFT JOIN reach r ON d.doc_id = r.u
         |         WHERE d.doc_id % 10 <> 0
         |           AND least(coalesce(r.mn, d.doc_id), d.doc_id) = d.doc_id
         |           AND d.doc_id NOT IN (SELECT doc_id FROM contam)
         |           AND q.quality >= 0.5),
         |pk AS (SELECT source, doc_id, n_tokens,
         |         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |       FROM kept)
         |SELECT source, doc_id, n_tokens,
         |       CAST(start // 512 AS BIGINT) AS bin, CAST(start % 512 AS BIGINT) AS offset
         |FROM pk ORDER BY source, doc_id""".stripMargin),

    "corpus_pipeline_clf" -> (bandsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      s""",
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
         |           AND x.doc_id < y.doc_id
         |         WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 <> 0),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (SELECT u, v FROM sym UNION SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u),
         |contam AS (SELECT tr.doc_id AS doc_id
         |           FROM (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 10 <> 0) tr
         |           JOIN (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 10 = 0) ev USING (s)
         |           GROUP BY tr.doc_id HAVING count(*) >= 8)""".stripMargin +
      clfChain(" AND doc_id % 10 <> 0") +
      s""",
         |sf AS (SELECT st.doc, count(*) AS nfb, sum(COALESCE(w3.w, 0)) AS sw
         |       FROM st LEFT JOIN w3 USING (b) GROUP BY st.doc),
         |pv AS (SELECT doc AS doc_id,
         |         greatest(0, least(1000000, ((sw // nfb) // 4) + 500000)) AS prob
         |       FROM sf),
         |kept AS (SELECT d.doc_id, d.source,
         |           CAST(len(t.toks) AS BIGINT) AS n_tokens
         |         FROM documents d
         |         JOIN tk t ON d.doc_id = t.doc_id
         |         JOIN pv q ON d.doc_id = q.doc_id
         |         LEFT JOIN reach r ON d.doc_id = r.u
         |         WHERE d.doc_id % 10 <> 0
         |           AND least(coalesce(r.mn, d.doc_id), d.doc_id) = d.doc_id
         |           AND d.doc_id NOT IN (SELECT doc_id FROM contam)
         |           AND q.prob >= 500000),
         |pk AS (SELECT source, doc_id, n_tokens,
         |         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |       FROM kept)
         |SELECT source, doc_id, n_tokens,
         |       CAST(start // 512 AS BIGINT) AS bin, CAST(start % 512 AS BIGINT) AS offset
         |FROM pk ORDER BY source, doc_id""".stripMargin),

    "corpus_curate" -> (bandsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      s""",
         |cand AS ($candSelect),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (SELECT u, v FROM sym UNION SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u),
         |sc AS (SELECT doc_id, lang, text,
         |  len(list_filter(toks, t -> list_contains(${swList("de")}, t))) AS s_de,
         |  len(list_filter(toks, t -> list_contains(${swList("en")}, t))) AS s_en,
         |  len(list_filter(toks, t -> list_contains(${swList("es")}, t))) AS s_es,
         |  len(list_filter(toks, t -> list_contains(${swList("fr")}, t))) AS s_fr,
         |  len(toks) AS ntok
         |  FROM tk),
         |feat AS (SELECT doc_id, lang,
         |  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS lang_pred,
         |  0.4 * least(ntok / 100.0, 1.0)
         |  + 0.3 * least((CASE WHEN ntok > 0 THEN CAST(s_en AS DOUBLE) / CAST(ntok AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
         |  + 0.3 * (CASE WHEN length(text) > 0
         |           THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |           ELSE 0.0 END) AS quality
         |  FROM sc),
         |kd AS (SELECT d.doc_id, d.doc_id = least(coalesce(r.mn, d.doc_id), d.doc_id) AS keep_dup
         |       FROM documents d LEFT JOIN reach r ON d.doc_id = r.u)
         |SELECT f.doc_id, kd.keep_dup, f.lang_pred, f.quality,
         |       (kd.keep_dup AND f.quality >= 0.5 AND f.lang_pred = f.lang) AS selected
         |FROM feat f JOIN kd ON f.doc_id = kd.doc_id
         |ORDER BY f.doc_id""".stripMargin),

    "dedup_simhash" -> (simhashCte + "\nSELECT doc_id, sig FROM sg ORDER BY doc_id"),

    "dedup_simhash_pairs" -> (simhashCte +
      s""",
         |bk AS (
         |  SELECT doc_id, sig, 0 AS chunk, substr(sig, 1, 16) AS key FROM sg
         |  UNION ALL SELECT doc_id, sig, 1, substr(sig, 17, 16) FROM sg
         |  UNION ALL SELECT doc_id, sig, 2, substr(sig, 33, 16) FROM sg
         |  UNION ALL SELECT doc_id, sig, 3, substr(sig, 49, 16) FROM sg),
         |cd AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS sa, y.sig AS sb
         |  FROM bk x JOIN bk y ON x.chunk = y.chunk AND x.key = y.key AND x.doc_id < y.doc_id),
         |hm AS (SELECT a, b, $hammingExpr AS hamming FROM cd)
         |SELECT a, b, hamming FROM hm WHERE hamming <= 3 ORDER BY a, b""".stripMargin),

    "sim_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         |p AS (SELECT q.qid, c.vec_id AS cid, ${dotDecSql("q.qv", "c.embedding")} AS dot
         |      FROM q CROSS JOIN embeddings c WHERE q.qid <> c.vec_id)
         |SELECT qid, cid, rank FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rank FROM p) t
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "sim_cosine_neardup" ->
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)
         |SELECT x.vec_id AS a, y.vec_id AS b
         |FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${dotDecSql("x.embedding", "y.embedding")} >= CAST('0.35' AS DECIMAL(36,15))
         |ORDER BY a, b""".stripMargin,

    "sim_neardup_clusters" ->
      s"""WITH RECURSIVE bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
         |         FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |         WHERE ${dotDecSql("x.embedding", "y.embedding")} >= CAST('0.35' AS DECIMAL(36,15))),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (SELECT u, v FROM sym UNION SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u)
         |SELECT e.vec_id, least(coalesce(r.mn, e.vec_id), e.vec_id) AS component,
         |       e.vec_id = least(coalesce(r.mn, e.vec_id), e.vec_id) AS keep
         |FROM embeddings e LEFT JOIN reach r ON e.vec_id = r.u
         |ORDER BY e.vec_id""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |cand AS (SELECT x.vec_id AS qid, x.embedding AS qv, y.vec_id AS cid, y.embedding AS cv
         |         FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id)
         |SELECT qid, cid, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |    ORDER BY ${dotDecSql("qv", "cv")} DESC, cid) AS rank FROM cand) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the same bucketed kNN edge list, then three unrolled power
    // iterations on the integer micro-rank grid; operands of the inner
    // division are positive, so DuckDB's flooring // and Spark's
    // truncating div agree exactly
    "sim_graph_pagerank" -> {
      def iter(prev: String, out: String) =
        s"""$out AS (SELECT n.vec_id AS vec_id,
           |  CAST(150000 + coalesce(sum((p.pr * 85) // (d.outdeg * 100)), 0) AS BIGINT) AS pr
           |  FROM embeddings n LEFT JOIN e ON e.cid = n.vec_id
           |  LEFT JOIN $prev p ON e.qid = p.vec_id
           |  LEFT JOIN deg d ON e.qid = d.qid
           |  GROUP BY n.vec_id)""".stripMargin
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |cand AS (SELECT x.vec_id AS qid, x.embedding AS qv, y.vec_id AS cid, y.embedding AS cv
         |         FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         |e AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |    ORDER BY ${dotDecSql("qv", "cv")} DESC, cid) AS rank FROM cand) t
         |  WHERE rank <= 3),
         |deg AS (SELECT qid, count(*) AS outdeg FROM e GROUP BY qid),
         |p0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr FROM embeddings),
         |${iter("p0", "p1")},
         |${iter("p1", "p2")},
         |${iter("p2", "p3")}
         |SELECT vec_id, pr FROM p3 ORDER BY vec_id""".stripMargin
    },

    // the greedy MMR recurrence, unrolled: pool = exact-dot top-10 per
    // query; round 1 picks max rel; each later round max-joins the
    // (1−λ)-weighted pair dots against the selected set and picks the
    // best λ·rel − (1−λ)·maxsim survivor. All decisions are single
    // exact-decimal comparisons, so the unrolled SQL must reproduce the
    // Spark loop bit-for-bit
    "sim_mmr_topk" -> mmrOracleSql,

    // the indexed pool is recall-complete (nProbe = nList), so its pool
    // equals the brute pool and the greedy recurrence must reproduce the
    // SAME unrolled MMR oracle bit-for-bit
    "sim_mmr_indexed" -> mmrOracleSql,

    // identical unrolled-greedy oracle: the PQ-pool serve is probed
    // gate-complete, so pool membership equals the brute pool's
    "sim_mmr_pq" -> mmrOracleSql,

    "sim_ivf_topk" -> ivfOracleSql,

    // identical semantics by construction: the int8 tier's coarse error is
    // margin-absorbed and the exact-decimal decider sees full precision,
    // so the same oracle must hash-match
    "sim_ivf_int8_topk" -> ivfOracleSql,

    // the persisted index converges to the same lists (pinned codebook ==
    // the oracle's full-corpus seed codebook by construction), so the
    // served ranking must hash-match the same recompute oracle
    "sim_ivf_persisted_topk" -> ivfOracleSql,

    // nProbe = nList makes the candidate set codebook-invariant (the whole
    // corpus), so the oracle is the plain brute-force decimal ranking
    "sim_ivf_kmeans_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         |p AS (SELECT q.qid, c.vec_id AS cid, ${dotDecSql("q.qv", "c.embedding")} AS dot
         |      FROM q CROSS JOIN embeddings c WHERE q.qid <> c.vec_id)
         |SELECT qid, cid, rank FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rank FROM p) t
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "sim_multiprobe_topk" -> {
      // probe set = own bucket UNION the nBits=4 flip-one-bit neighbors
      // (plain UNION dedups); candidates are every corpus vector in any
      // probed bucket; rank in decimal space like the Spark side
      val flipArms = (0 until 4).map { j =>
        val pre = if (j == 0) "" else s"substr(b0,1,$j) || "
        val post = if (j == 3) "" else s" || substr(b0,${j + 2},${3 - j})"
        s"SELECT qid, $pre(CASE WHEN substr(b0,${j + 1},1) = '1' THEN '0' ELSE '1' END)$post AS bucket FROM qb"
      }.mkString("\n         UNION ")
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |qb AS (SELECT vec_id AS qid, bucket AS b0 FROM bk WHERE vec_id % 50 = 0),
         |probes AS (SELECT qid, b0 AS bucket FROM qb
         |         UNION $flipArms),
         |cand AS (SELECT DISTINCT p.qid, c.vec_id AS cid
         |  FROM probes p JOIN bk c ON p.bucket = c.bucket WHERE p.qid <> c.vec_id),
         |scored AS (SELECT cand.qid, cand.cid,
         |    row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY ${dotDecSql("qe.embedding", "ce.embedding")} DESC, cand.cid ASC) AS rank
         |  FROM cand JOIN embeddings qe ON cand.qid = qe.vec_id
         |  JOIN embeddings ce ON cand.cid = ce.vec_id)
         |SELECT qid, cid, CAST(rank AS BIGINT) AS rank FROM scored
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    "txt_dup_ngrams" -> (tkCte +
      """,
        |ng AS (SELECT doc_id, md5(g) AS h FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM tk WHERE len(toks) >= 3)),
        |dfh AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ng GROUP BY h),
        |per AS (SELECT ng.doc_id, count(*) AS n_ngrams,
        |        CAST(sum(CASE WHEN dfh.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |        FROM ng JOIN dfh USING (h) GROUP BY ng.doc_id)
        |SELECT d.doc_id,
        |  coalesce(per.n_ngrams, 0) AS n_ngrams,
        |  coalesce(per.n_dup, 0) AS n_dup,
        |  CAST(CASE WHEN coalesce(per.n_ngrams, 0) = 0 THEN 0
        |       ELSE (1000000 * per.n_dup) // per.n_ngrams END AS BIGINT) AS dup_ppm
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // the candidate filter is lossless, so the joined result is just the
    // brute-force distance predicate — DuckDB's levenshtein is the same
    // unit-cost Wagner-Fischer as Spark's
    "enrich_fuzzy_join" ->
      """SELECT a.s_suppkey AS a, b.s_suppkey AS b,
        |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY a, b""".stripMargin,

    "enrich_fuzzy_lookup" -> fuzzyLookupOracleSql,

    // index-served probe == recompute lookup == the same brute oracle
    // (lossless filter either way round; exact verify)
    "enrich_fuzzy_indexed" -> fuzzyLookupOracleSql,

    // hashed-bigram buckets (first 4 md5 nibbles mod 4096), Laplace-
    // smoothed ppm under the target (lang='en') and raw distributions,
    // per-doc sum of the per-bucket delta; all division operands are
    // positive so // and Spark's div agree
    "txt_clf_train" -> (clfCoreCte +
      "\nSELECT CAST(b AS BIGINT) AS b, CAST(w AS BIGINT) AS w FROM w3 ORDER BY b"),

    "txt_clf_score" -> (clfCoreCte +
      """,
        |sf AS (SELECT st.doc, count(*) AS n_fbuckets, sum(COALESCE(w3.w, 0)) AS sw
        |       FROM st LEFT JOIN w3 USING (b) GROUP BY st.doc)
        |SELECT doc, CAST(n_fbuckets AS BIGINT) AS n_fbuckets,
        |  CAST(sw // n_fbuckets AS BIGINT) AS clf_logit,
        |  CAST(greatest(0, least(1000000, ((sw // n_fbuckets) // 4) + 500000)) AS BIGINT) AS clf_prob
        |FROM sf ORDER BY doc""".stripMargin),

    // the persisted tier's served table vs a FULL from-scratch replay:
    // train on the % 10 <> 0 slice (the clfChain where-clause), then
    // score EVERY corpus doc under w3 — a left join to documents keeps
    // the evidence-free (< 2 token) docs as NULL-score rows, matching
    // the landed one-row-per-doc contract
    "txt_clf_persisted" -> (tkCte + clfChain(" AND doc_id % 10 <> 0") +
      """,
        |bga AS (SELECT doc_id AS doc, unnest(list_transform(range(2, len(toks) + 1),
        |    i -> toks[i-1] || ' ' || toks[i])) AS bg
        |  FROM tk WHERE len(toks) >= 2),
        |sta AS (SELECT DISTINCT doc,
        |  ((instr('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 4096
        |  + (instr('0123456789abcdef', substr(md5(bg), 2, 1)) - 1) * 256
        |  + (instr('0123456789abcdef', substr(md5(bg), 3, 1)) - 1) * 16
        |  + (instr('0123456789abcdef', substr(md5(bg), 4, 1)) - 1)) % 4096 AS b
        |  FROM bga),
        |sfa AS (SELECT sta.doc, count(*) AS n_fbuckets, sum(COALESCE(w3.w, 0)) AS sw
        |        FROM sta LEFT JOIN w3 USING (b) GROUP BY sta.doc)
        |SELECT d.doc_id AS doc,
        |  CAST(COALESCE(sfa.n_fbuckets, 0) AS BIGINT) AS n_fbuckets,
        |  CAST(sw // sfa.n_fbuckets AS BIGINT) AS clf_logit,
        |  CAST(greatest(0, least(1000000, ((sw // sfa.n_fbuckets) // 4) + 500000)) AS BIGINT) AS clf_prob
        |FROM documents d LEFT JOIN sfa ON d.doc_id = sfa.doc
        |ORDER BY doc""".stripMargin),

    "txt_dsir_weights" -> dsirOracleSql,

    // merged per-drop count segments must reproduce the one-shot model
    // exactly (counts are summable), so one SQL recompute gates both
    "txt_dsir_incremental" -> dsirOracleSql,

    // the composed pipeline: the dw CTE's min-shifted weights drive the
    // same systematic-PPS recurrence as q_sample_pps
    "txt_dsir_resample" -> (dsirCoreCte +
      """,
        |w AS (SELECT doc, dsir_w - (SELECT min(dsir_w) FROM dw) + 1 AS weight,
        |             md5('s0' || CAST(doc AS VARCHAR)) AS h FROM dw),
        |c AS (SELECT doc, weight,
        |             SUM(weight) OVER (ORDER BY h, doc
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM w)
        |SELECT doc, CAST(weight AS BIGINT) AS weight,
        |       CAST(cum // 997 - (cum - weight) // 997 AS BIGINT) AS copies
        |FROM c WHERE cum // 997 > (cum - weight) // 997
        |ORDER BY doc""".stripMargin),

    "txt_hashed_tf" -> (hashedTfCte +
      """
        |SELECT doc_id, bucket, count(*) AS cnt
        |FROM tfb GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin),

    "txt_sparse_sim_topk" -> (hashedTfCte +
      """,
        |cnts AS (SELECT doc_id, bucket, count(*) AS cnt FROM tfb GROUP BY doc_id, bucket),
        |cap AS (SELECT greatest(16, (count(*) + 19) // 20) AS cap FROM documents),
        |keep AS (SELECT bucket FROM cnts GROUP BY bucket HAVING count(*) <= (SELECT cap FROM cap)),
        |p AS (SELECT cnts.* FROM cnts JOIN keep USING (bucket)),
        |nrm AS (SELECT doc_id, sum(cnt * cnt) AS nrm FROM p GROUP BY doc_id),
        |dots AS (SELECT x.doc_id AS qid, y.doc_id AS cid, sum(x.cnt * y.cnt) AS dot
        |         FROM p x JOIN p y ON x.bucket = y.bucket AND x.doc_id <> y.doc_id
        |         GROUP BY x.doc_id, y.doc_id),
        |sc AS (SELECT qid, cid,
        |         CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cos
        |       FROM dots JOIN nrm na ON dots.qid = na.doc_id JOIN nrm nb ON dots.cid = nb.doc_id)
        |SELECT qid, cid, cos, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank FROM sc) t
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    "sim_semdedup" ->
      s"""WITH RECURSIVE cent AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
         |ass AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.ccid AS cell,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotDecSql("e.embedding", "c.cv")} DESC, c.ccid ASC) AS rn
         |  FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
         |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
         |         FROM ass x JOIN ass y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |         WHERE ${dotDecSql("x.embedding", "y.embedding")} >= CAST('0.35' AS DECIMAL(36,15))),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (SELECT u, v FROM sym UNION SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u)
         |SELECT a2.vec_id, a2.cell, least(coalesce(r.mn, a2.vec_id), a2.vec_id) AS component,
         |       a2.vec_id = least(coalesce(r.mn, a2.vec_id), a2.vec_id) AS keep
         |FROM ass a2 LEFT JOIN reach r ON a2.vec_id = r.u
         |ORDER BY a2.vec_id""".stripMargin,

    // same component recompute as sim_semdedup (the index converges to
    // the from-scratch graph under the shared pinned codebook), minus
    // the cell column
    "sem_cluster_incremental" ->
      s"""WITH RECURSIVE cent AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
         |ass AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.ccid AS cell,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotDecSql("e.embedding", "c.cv")} DESC, c.ccid ASC) AS rn
         |  FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
         |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
         |         FROM ass x JOIN ass y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |         WHERE ${dotDecSql("x.embedding", "y.embedding")} >= CAST('0.35' AS DECIMAL(36,15))),
         |sym AS (SELECT a AS u, b AS v FROM cand UNION SELECT b AS u, a AS v FROM cand),
         |walk(u, v) AS (SELECT u, v FROM sym UNION SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
         |reach AS (SELECT u, min(v) AS mn FROM walk GROUP BY u)
         |SELECT a2.vec_id, least(coalesce(r.mn, a2.vec_id), a2.vec_id) AS component,
         |       a2.vec_id = least(coalesce(r.mn, a2.vec_id), a2.vec_id) AS keep
         |FROM ass a2 LEFT JOIN reach r ON a2.vec_id = r.u
         |ORDER BY a2.vec_id""".stripMargin,

    "pca_moments" -> pcaMomentsOracleSql,

    // merged per-drop segments (incl. a retraction and a mid-sequence
    // compaction) must reproduce the from-scratch moment recompute
    // bit-for-bit — decimal addition is exact, so the oracle is the
    // SAME full recompute as pca_moments
    "pca_moments_incremental" -> pcaMomentsOracleSql,

    // the exact side (query count) recomputes in SQL; the recall bound is
    // the Spark-side pinned flag, like q_approx_distinct_bound
    "sim_pca_recall" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ge_095
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,

    // the exact side (query count) recomputes in SQL; the ADC-pool
    // recall bound is the Spark-side pinned flag, like sim_pca_recall
    "sim_pq_recall" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ge_080
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,

    // persisted-vs-recompute parity and the recall floor are Spark-side
    // pinned flags (deterministic codebooks make parity exact); the
    // oracle recomputes the query count
    "sim_pq_persisted_topk" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ge_080,
        |       true AS served_eq_recompute
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,

    // same constants-oracle shape: parity + gate-complete recall are
    // Spark-side flags, the oracle recomputes the query count
    "sim_imi_persisted_topk" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ge_080,
        |       true AS served_eq_recompute
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,

    "sim_opq_persisted_topk" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ge_080,
        |       true AS served_eq_recompute
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,

    "sim_imi_opq_persisted_topk" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ge_080,
        |       true AS served_eq_recompute
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,

    // the anisotropic-fixture contract: rotated codes must both beat
    // raw dimension order strictly AND clear the 99-purity floor — a
    // rotation regression (wrong allocation, stale basis, broken
    // rotate expression) reds the hash gate
    "sim_opq_aniso_purity" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS opq_gt_raw,
        |       true AS opq_ge_99
        |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin,

    // the floors are the contract: the oracle states every tier's board
    // row must come back (n_pairs = 5 per query) with its pinned floor
    // met — a silent recall regression reds the hash gate
    "sim_recall_board" ->
      """WITH q AS (SELECT CAST(count(*) * 5 AS BIGINT) AS n_pairs
        |           FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT t.tier, q.n_pairs, true AS recall_ok
        |FROM (VALUES ('brute'), ('ivf_kmeans'), ('ivf_seed'), ('ivf_hier'),
        |             ('ivf_hier_pq'), ('ivf_imi'), ('ivf_imi_pq'),
        |             ('ivf_imi_opq'), ('ivf_opq'),
        |             ('ivf_sq8'), ('ivf_pq'), ('lsh_multiprobe'), ('pca_gate')) AS t(tier)
        |CROSS JOIN q ORDER BY tier""".stripMargin,

    // like the recall board: the floors are the Spark-side contract;
    // the oracle pins shape + the expected truth of every gate
    "sim_hier_m_board" ->
      """WITH q AS (SELECT CAST(count(*) * 5 AS BIGINT) AS n_pairs
        |           FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT CAST(t.m AS BIGINT) AS m, q.n_pairs, true AS recall_ok
        |FROM (VALUES (1), (2), (4)) AS t(m)
        |CROSS JOIN q ORDER BY m""".stripMargin,

    "sim_quantize_int8" ->
      """WITH b AS (SELECT vec_id,
        |  CAST(list_min(embedding) AS DOUBLE) AS lo,
        |  CAST(list_max(embedding) AS DOUBLE) AS hi,
        |  embedding FROM embeddings)
        |SELECT vec_id, lo, hi,
        |  CAST(list_sum(list_transform(embedding, x ->
        |    CASE WHEN hi = lo THEN 0
        |         ELSE CAST(round((CAST(x AS DOUBLE) - lo) / ((hi - lo) / 255.0)) AS INTEGER) - 128 END)) AS BIGINT) AS code_sum
        |FROM b ORDER BY vec_id""".stripMargin,

    "url_extract" -> (versionsCte +
      """,
        |u AS (
        |  SELECT _id, 'u_pliego' AS field,
        |         'https://host' || CAST(nk % 20 AS VARCHAR) || '.example.es/docs/' || _id || '_Pliego.pdf' AS url
        |  FROM v
        |  UNION ALL
        |  SELECT _id, 'u_anexo', 'http://mirror.example.org/' || _id || '_Anexo.zip'
        |  FROM v WHERE ok % 5 = 0)
        |SELECT _id, field, url,
        |       regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
        |       regexp_extract(url, '([^/]+)$', 1) AS fname,
        |       split_part(regexp_extract(url, '([^/]+)$', 1), '_', 1) AS file_ntp,
        |       regexp_extract(regexp_extract(url, '([^/]+)$', 1), '\.([a-z]+)$', 1) AS ext,
        |       regexp_extract(regexp_extract(url, '([^/]+)$', 1), '\.([a-z]+)$', 1) IN ('pdf', 'doc', 'docx', 'zip', 'html') AS accepted
        |FROM u ORDER BY _id, field""".stripMargin),

    "url_sniff" ->
      (s"""WITH f AS (SELECT o_orderkey AS ok,
          |  CASE WHEN o_orderkey % 4 = 0 THEN 'application/pdf'
          |       WHEN o_orderkey % 4 = 1 THEN 'text/html; charset=utf-8'
          |       WHEN o_orderkey % 4 = 2 THEN '${graft.harvest.UrlSniff.DocxMime}'
          |       ELSE 'application/octet-stream' END AS ct,
          |  CASE WHEN o_orderkey % 3 = 0 THEN 'attachment; filename="doc_' || CAST(o_orderkey AS VARCHAR) || '.PDF"'
          |       WHEN o_orderkey % 3 = 1 THEN 'inline; filename=report .docx' END AS cd,
          |  CASE WHEN o_orderkey % 5 = 0 THEN '<html><head><meta http-equiv="refresh" content="5;url=/redir/' || CAST(o_orderkey AS VARCHAR) || '.html"></head>'
          |       ELSE '<html><body>no refresh here</body></html>' END AS html,
          |  'https://host' || CAST(o_orderkey % 20 AS VARCHAR) || '.example.es/path/doc' || CAST(o_orderkey AS VARCHAR) || '.html' AS url
          |  FROM orders),
          |it AS (SELECT *, CASE WHEN cd IS NULL THEN NULL ELSE
          |         (list_filter(string_split(replace(replace(cd, '769;', '_'), '8230;', '_'), ';'),
          |                      x -> contains(x, 'filename')))[-1] END AS item FROM f),
          |ex AS (SELECT *, CASE WHEN item IS NULL THEN NULL ELSE
          |         replace(replace(regexp_extract(lower(replace(substr(item, strpos(item, '=') + 1), ' .', '.')),
          |                                        '\\.([^.]*)$$', 1), '?=', ''), '"', '') END AS cd_ext FROM it),
          |mr AS (SELECT *, regexp_extract(substr(html, 1, 1024),
          |         '(?i)<meta[^>]*http-equiv=["'']?refresh["'']?[^>]*content=["'']([^"'']*)["'']', 1) AS content FROM ex),
          |rd AS (SELECT *, trim(string_split(content, ';')[2]) AS aft FROM mr),
          |r2 AS (SELECT *, CASE WHEN lower(aft) LIKE 'url=%' THEN replace(substr(aft, 5), '''', '') END AS redir FROM rd)
          |SELECT ok,
          |  CASE WHEN cd_ext IS NOT NULL THEN cd_ext
          |       WHEN ct = 'application/pdf' THEN 'pdf'
          |       WHEN ct LIKE 'text/html%' THEN 'html'
          |       WHEN ct = '${graft.harvest.UrlSniff.DocxMime}' THEN 'docx'
          |       ELSE '' END AS file_type,
          |  CASE WHEN redir IS NULL THEN ''
          |       WHEN redir LIKE '/%' THEN regexp_extract(url, '^([a-z]+)://', 1) || '://' || regexp_extract(url, '^[a-z]+://([^/]+)', 1) || redir
          |       ELSE redir END AS redirect
          |FROM r2 ORDER BY ok""".stripMargin),

    // generic re-implementation of every CanonicalUrl step (explicit
    // ASCII-whitespace trim, fragment strip, scheme/host lowercase,
    // userinfo split at the LAST '@' with its case preserved, host
    // trailing-dot strip, bare-colon and default-port drop, per-escape
    // RFC 3986 §6.2.2 normalization via the split-on-% list trick —
    // unreserved bytes DECODE, everything else keeps uppercased hex —
    // trailing-slash strip with empty->'/', tracking-param drop +
    // lexicographic param sort) — NOT the fixture generator's answer
    // key, so Spark and DuckDB must agree on the algorithm itself.
    // Arms 5 (bare colon + trailing-dot + mixed-case host) and 6
    // (mixed-case userinfo) exercise exactly the authority edges where
    // the two engines could drift; arm 5 must COLLAPSE into arms 0-4's
    // group, arm 6 must form its own key with 'User...@' verbatim
    "dedup_url_canonical" ->
      (s"""WITH u AS (SELECT o_orderkey AS ok, o_orderkey // 5 AS g,
        |                  (o_orderkey // 5) % 20 AS h FROM orders),
        |d AS (SELECT ok,
        |  CASE WHEN ok % 7 = 0 THEN 'HTTPS://Host' || CAST(h AS VARCHAR) || '.Example.ES/Docs/' || CAST(g AS VARCHAR) || '?q=1&x=%2fa&t=%7Eu#frag'
        |       WHEN ok % 7 = 1 THEN 'https://host' || CAST(h AS VARCHAR) || '.example.es:443/%44ocs/' || CAST(g AS VARCHAR) || '?x=%2Fa&q=1&t=~u'
        |       WHEN ok % 7 = 2 THEN 'https://host' || CAST(h AS VARCHAR) || '.example.es./Docs/' || CAST(g AS VARCHAR) || '/?q=1&x=%2fa&utm_source=news&t=%7eu'
        |       WHEN ok % 7 = 3 THEN '  https://host' || CAST(h AS VARCHAR) || '.example.es/Docs/' || CAST(g AS VARCHAR) || '?gclid=g' || CAST(ok AS VARCHAR) || '&q=1&x=%2Fa&t=~u  '
        |       WHEN ok % 7 = 5 THEN 'https://Host' || CAST(h AS VARCHAR) || '.Example.ES.:/Docs/' || CAST(g AS VARCHAR) || '?q=1&x=%2Fa&t=~u'
        |       WHEN ok % 7 = 6 THEN 'https://User' || CAST(h AS VARCHAR) || '@host' || CAST(h AS VARCHAR) || '.example.es/Docs/' || CAST(g AS VARCHAR) || '?q=1&x=%2Fa&t=%7Eu'
        |       ELSE 'https://host' || CAST(h AS VARCHAR) || '.example.es/Docs/' || CAST(g AS VARCHAR) || '//?UTM_Source=x&q=1&x=%2Fa&t=%7Eu' END AS url
        |  FROM u),
        |s1 AS (SELECT ok, split_part(trim(url, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '#', 1) AS nf FROM d),
        |p AS (SELECT ok,
        |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        |  regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |  CASE WHEN contains(nf, '?') THEN regexp_extract(nf, '\\?(.*)$$', 1) END AS qry
        |  FROM s1),
        |h2 AS (SELECT *,
        |  CASE WHEN regexp_matches(auth, ':[0-9]*$$') THEN regexp_extract(auth, '^(.*):[0-9]*$$', 1) ELSE auth END AS hostraw,
        |  CASE WHEN regexp_matches(auth, ':[0-9]*$$') THEN regexp_extract(auth, ':([0-9]*)$$', 1) ELSE '' END AS port
        |  FROM p),
        |h3 AS (SELECT *,
        |  (CASE WHEN contains(hostraw, '@') THEN regexp_extract(hostraw, '^(.*@)', 1) ELSE '' END) ||
        |  rtrim(lower(CASE WHEN contains(hostraw, '@') THEN regexp_extract(hostraw, '([^@]*)$$', 1) ELSE hostraw END), '.') AS host,
        |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |         OR (scheme = 'https' AND port = '443') THEN ''
        |       ELSE ':' || port END AS portkeep
        |  FROM h2),
        |pc AS (SELECT *,
        |  ${urlPctSql("path0")} AS pathu,
        |  CASE WHEN qry IS NULL THEN NULL ELSE
        |  ${urlPctSql("qry")} END AS qryu
        |  FROM h3),
        |fin AS (SELECT ok,
        |  scheme || '://' || host || portkeep ||
        |  (CASE WHEN rtrim(pathu, '/') = '' THEN '/' ELSE rtrim(pathu, '/') END) ||
        |  (CASE WHEN qryu IS NULL THEN '' ELSE
        |     CASE WHEN array_to_string(list_sort(list_filter(string_split(qryu, '&'), s ->
        |            s <> '' AND NOT $urlDropSql)), '&') = '' THEN ''
        |          ELSE '?' || array_to_string(list_sort(list_filter(string_split(qryu, '&'), s ->
        |            s <> '' AND NOT $urlDropSql)), '&') END END) AS canon_url
        |  FROM pc)
        |SELECT canon_url, min(ok) AS keep_id, count(*) AS n_variants
        |FROM fin GROUP BY canon_url ORDER BY canon_url""").stripMargin,

    "nif_validate" ->
      """WITH ids AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 4 = 0 THEN printf('%08d', c_custkey) || '-Z'
        |       WHEN c_custkey % 4 = 1 THEN 'a' || printf('%07d', c_custkey) || '.c'
        |       WHEN c_custkey % 4 = 2 THEN 'X ' || printf('%07d', c_custkey) || 'L'
        |       ELSE 'BAD' || CAST(c_custkey AS VARCHAR) END AS raw_id
        |  FROM customer),
        |n AS (SELECT c_custkey, raw_id, upper(translate(raw_id, '-. ', '')) AS norm_id FROM ids)
        |SELECT c_custkey, raw_id, norm_id,
        |  CASE WHEN regexp_matches(norm_id, '^[0-9]{8}[A-Z]$') THEN 'DNI'
        |       WHEN regexp_matches(norm_id, '^[XYZ][0-9]{7}[A-Z]$') THEN 'NIE'
        |       WHEN regexp_matches(norm_id, '^[A-Z][0-9]{7}[0-9A-J]$') THEN 'CIF'
        |       ELSE 'INVALID' END AS id_type
        |FROM n ORDER BY c_custkey""".stripMargin,

    "enrich_companies" -> (versionsCte +
      """,
        |latest AS (
        |  SELECT _id, nk, status FROM (
        |    SELECT _id, nk, status,
        |           row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rn
        |    FROM v) t
        |  WHERE rn = 1),
        |companies AS (
        |  SELECT printf('ntp%08d', c_custkey) AS pid, upper(c_name) AS company
        |  FROM customer WHERE c_custkey % 2 = 0)
        |SELECT c.pid, c.company, l.nk, l.status
        |FROM companies c LEFT JOIN latest l ON c.pid = l._id
        |ORDER BY c.pid""".stripMargin),

    "ntp_chain_resolve" ->
      (s"""WITH RECURSIVE v AS (
          |$versionsSelect),
          |r AS (SELECT _id, nk, row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rn FROM v),
          |p AS (SELECT cur._id AS src, prv._id AS dst
          |      FROM r cur JOIN r prv ON cur.nk = prv.nk AND prv.rn = cur.rn - 1
          |      WHERE cur.rn > 1),
          |walk(src, dst) AS (
          |  SELECT src, dst FROM p
          |  UNION ALL
          |  SELECT w.src, p2.dst FROM walk w JOIN p p2 ON w.dst = p2.src)
          |SELECT src, dst AS resolved_to FROM walk
          |WHERE dst NOT IN (SELECT src FROM p)
          |ORDER BY src""".stripMargin),

    "q_asof_prev_version" -> (versionsCte +
      """,
        |q AS (SELECT _id, nk, updated FROM v WHERE ok % 2 = 1),
        |p AS (SELECT _id, nk, updated FROM (
        |        SELECT _id, nk, updated,
        |               row_number() OVER (PARTITION BY nk, updated ORDER BY _id DESC) AS rn
        |        FROM v WHERE ok % 2 = 0) t
        |      WHERE rn = 1)
        |SELECT q._id AS query_id, q.nk AS nk, p._id AS matched_id
        |FROM q ASOF LEFT JOIN p ON q.nk = p.nk AND q.updated >= p.updated
        |ORDER BY query_id""".stripMargin),

    "ingest_unidecode" ->
      """SELECT n_name, strip_accents('Canción número uno: ' || n_name) AS plain
        |FROM nation ORDER BY n_name""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    // dims and the lossless pixel sum recomputed arithmetically — the
    // Spark side must round-trip them through the real PNG codec
    "multimodal_decode" ->
      """WITH g AS (SELECT doc_id, 1 + doc_id % 16 AS w,
        |                  1 + CAST(n_chars AS BIGINT) % 16 AS h FROM documents),
        |gx AS (SELECT doc_id, w, h, unnest(range(w)) AS x FROM g),
        |gxy AS (SELECT doc_id, w, h, x, unnest(range(h)) AS y FROM gx),
        |p AS (SELECT doc_id, w, h, SUM((doc_id * 7 + x * 13 + y * 31) % 256) AS pix_sum
        |      FROM gxy GROUP BY doc_id, w, h)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(1 AS BIGINT) AS channels, CAST(pix_sum AS BIGINT) AS pix_sum
        |FROM p ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """WITH g AS (SELECT doc_id, 2 + doc_id % 5 AS w,
        |                  2 + CAST(n_chars AS BIGINT) % 4 AS h,
        |                  1 + doc_id % 3 AS nf FROM documents),
        |f AS (SELECT doc_id, w, h, nf, unnest(range(nf)) AS fr FROM g),
        |fk AS (SELECT * FROM f WHERE fr % 2 = 0),
        |fx AS (SELECT doc_id, w, h, nf, fr, unnest(range(w)) AS x FROM fk),
        |fxy AS (SELECT doc_id, w, h, nf, fr, x, unnest(range(h)) AS y FROM fx),
        |p AS (SELECT doc_id, nf, fr, w, h,
        |        SUM(((doc_id * 131 + fr) * 7 + x * 13 + y * 31) % 256) AS px_sum
        |      FROM fxy GROUP BY doc_id, nf, fr, w, h)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, CAST(fr AS BIGINT) AS frame_no,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(px_sum AS BIGINT) AS px_sum
        |FROM p ORDER BY doc_id, frame_no""".stripMargin,

    // rate/channels/bits are format constants; frames and the lossless
    // PCM16 sample sum recomputed arithmetically — the Spark side must
    // round-trip them through the real WAV codec
    "multimodal_audio" ->
      """WITH g AS (SELECT doc_id, 16 + CAST(n_chars AS BIGINT) % 240 AS n FROM documents),
        |gi AS (SELECT doc_id, n, unnest(range(n)) AS i FROM g),
        |p AS (SELECT doc_id, n, SUM((doc_id * 11 + i * 17) % 65536 - 32768) AS s
        |      FROM gi GROUP BY doc_id, n)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |       CAST(16 AS BIGINT) AS bits, CAST(n AS BIGINT) AS n_frames,
        |       CAST(s AS BIGINT) AS sample_sum
        |FROM p ORDER BY doc_id""".stripMargin,

    // all 64 average-hash bits recomputed arithmetically: per-bucket and
    // whole-image pixel sums with the cross-multiplied mean compare —
    // the Spark side must reproduce them from the real decoded raster
    "multimodal_phash" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w,
        |                  8 + CAST(n_chars AS BIGINT) % 9 AS h,
        |                  doc_id % 40 AS pid FROM documents),
        |gx AS (SELECT doc_id, w, h, pid, unnest(range(w)) AS x FROM g),
        |gxy AS (SELECT doc_id, w, h, pid, x, unnest(range(h)) AS y FROM gx),
        |px AS (SELECT doc_id, ((y * 8) // h) * 8 + (x * 8) // w AS idx,
        |              (pid * 7 + x * 13 + y * 31) % 256 AS p
        |       FROM gxy),
        |bk AS (SELECT doc_id, idx, sum(p) AS s, count(*) AS c FROM px GROUP BY doc_id, idx),
        |tt AS (SELECT doc_id, sum(p) AS ts, count(*) AS tc FROM px GROUP BY doc_id)
        |SELECT b.doc_id,
        |       string_agg(CASE WHEN b.s * t.tc >= t.ts * b.c THEN '1' ELSE '0' END, ''
        |                  ORDER BY b.idx) AS ahash
        |FROM bk b JOIN tt t ON b.doc_id = t.doc_id
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // all 64 envelope bits recomputed arithmetically from the tone
    // formula — the Spark side must reproduce them from the real
    // decoded PCM stream
    "multimodal_audio_hash" ->
      """WITH g AS (SELECT doc_id, 64 + CAST(n_chars AS BIGINT) % 192 AS n,
        |                  doc_id % 40 AS tid FROM documents),
        |gi AS (SELECT doc_id, n, tid, unnest(range(n)) AS i FROM g),
        |px AS (SELECT doc_id, (i * 64) // n AS idx,
        |              abs((tid * 11 + i * 17) % 65536 - 32768) AS e
        |       FROM gi),
        |bk AS (SELECT doc_id, idx, sum(e) AS s, count(*) AS c FROM px GROUP BY doc_id, idx),
        |tt AS (SELECT doc_id, sum(e) AS ts, count(*) AS tc FROM px GROUP BY doc_id)
        |SELECT b.doc_id,
        |       string_agg(CASE WHEN b.s * t.tc >= t.ts * b.c THEN '1' ELSE '0' END, ''
        |                  ORDER BY b.idx) AS ahash
        |FROM bk b JOIN tt t ON b.doc_id = t.doc_id
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "ingest_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,

    "cpv_parse_codes" ->
      """SELECT source, CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS code, count(*) AS n
        |FROM documents GROUP BY source, code ORDER BY source""".stripMargin,

    "ingest_parse_list" ->
      """WITH el AS (SELECT p_brand AS element FROM part UNION ALL SELECT p_type FROM part)
        |SELECT element, count(*) AS n FROM el GROUP BY element ORDER BY element""".stripMargin)
}
