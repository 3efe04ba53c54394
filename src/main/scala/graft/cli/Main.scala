package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.NtpIds
import graft.lake.LakeTable
import graft.pipeline.{HarvestJobs, IngestJob, RepairJob}
import graft.sources.Sources

/** Thin CLI mirroring the reference scripts' entry points and job modes
  * (SURVEY §7.7): ingest (read_parquet), summary (calc_summary), harvest
  * (get_documents --scan_only), sync (sync_documents --check_only).
  * Flags follow the reference: --drop, --ini/--fin id ranges.
  *
  *   runMain graft.cli.Main ingest --in drop.parquet --lake /lake/place \
  *     --codes codes.tsv --natural-id id --updated updated [--group 0] [--drop]
  */
object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }
  private def flag(args: Array[String], name: String): Boolean = args.contains(name)

  /** The declarative-rule flag surface shared by `dq` and `drop`:
    * --not-null a,b | --range col:lo:hi[,..] | --accepted col:v1|v2[,..]
    * | --matches col:regex (full-match; anchored internally) | --rules
    * file.json — a VERSIONABLE rules file so a 20-rule production
    * contract doesn't live in a shell line. The file is a JSON array of
    * rule objects:
    *   [{"rule":"not_null","col":"nk"},
    *    {"rule":"range","col":"v","lo":0,"hi":100},
    *    {"rule":"accepted","col":"status","values":["F","O"]},
    *    {"rule":"matches","col":"prio","regex":"^[1-5]-[A-Z]+$"},
    *    {"rule":"satisfies","name":"key_positive","sql":"k > 0"},
    *    {"rule":"unique","col":"k"}]
    * Flags and file compose (both contribute rules). Returns (row-local
    * rules, unique columns) — unique is a DATASET expectation, valid for
    * the dq report/gate but rejected by the row-local quarantine split.
    */
  private def parseDqRules(args: Array[String])
      : (Seq[graft.ops.Expectations.Rule], Seq[String]) = {
    import graft.ops.Expectations
    val rules = scala.collection.mutable.ArrayBuffer[Expectations.Rule]()
    val uniques = scala.collection.mutable.ArrayBuffer[String]()
    arg(args, "--not-null").foreach(_.split(",").foreach(c =>
      rules += Expectations.notNull(c)))
    arg(args, "--range").foreach(_.split(",").foreach { spec =>
      val Array(c, lo, hi) = spec.split(":", 3)
      rules += Expectations.inRange(c,
        org.apache.spark.sql.functions.lit(lo.toDouble),
        org.apache.spark.sql.functions.lit(hi.toDouble))
    })
    arg(args, "--accepted").foreach(_.split(",").foreach { spec =>
      val Array(c, vs) = spec.split(":", 2)
      rules += Expectations.accepted(c, vs.split("\\|").toSeq)
    })
    arg(args, "--matches").foreach { spec =>
      val Array(c, re) = spec.split(":", 2)
      rules += Expectations.matches(c, re)
    }
    arg(args, "--rules").foreach { path =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      require(root != null && root.isArray,
        s"--rules file must be a JSON array of rule objects: $path")
      root.forEach { n =>
        def req(f: String): com.fasterxml.jackson.databind.JsonNode = {
          val v = n.get(f)
          // a malformed contract must fail LOUDLY, naming the rule object
          if (v == null) sys.error(s"--rules: rule $n is missing field '$f'")
          v
        }
        req("rule").asText() match {
          case "not_null" => rules += Expectations.notNull(req("col").asText())
          case "range" => rules += Expectations.inRange(req("col").asText(),
            org.apache.spark.sql.functions.lit(req("lo").asDouble()),
            org.apache.spark.sql.functions.lit(req("hi").asDouble()))
          case "accepted" =>
            val vs = scala.collection.mutable.ArrayBuffer[String]()
            req("values").forEach(v => vs += v.asText())
            rules += Expectations.accepted(req("col").asText(), vs.toSeq)
          case "matches" =>
            rules += Expectations.matches(req("col").asText(), req("regex").asText())
          case "satisfies" => rules += Expectations.satisfies(req("name").asText(),
            org.apache.spark.sql.functions.expr(req("sql").asText()))
          case "unique" => uniques += req("col").asText()
          case other => sys.error(s"--rules: unknown rule type '$other' " +
            "(not_null|range|accepted|matches|satisfies|unique)")
        }
      }
    }
    (rules.toSeq, uniques.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("help")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cmd, args.drop(1)) finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, cmd: String, args: Array[String]): Unit = cmd match {
    case "ingest" =>
      val lakePath = arg(args, "--lake").get
      if (flag(args, "--drop")) {
        // reference --drop is a full truncate (read_parquet.py:75-78):
        // the table AND its patch/summary siblings go
        val fs = new org.apache.hadoop.fs.Path(lakePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq("", ".patches", ".summary", ".staging", ".old", ".pstaging").foreach(s =>
          fs.delete(new org.apache.hadoop.fs.Path(lakePath + s), true))
      }
      // new lakes get the partitioned 100 TB layout (grp + nk-hash bucket,
      // dynamic partition overwrite); a pre-existing lake is reopened with
      // ITS persisted layout (partition cols AND bucket modulus from the
      // _graft_layout marker — a different modulus would misclassify
      // re-delivered keys); a pre-existing unpartitioned lake keeps the
      // staged full-rewrite path
      val probe = new LakeTable(spark, lakePath, "_id")
      val lake = LakeTable.layoutOf(spark, lakePath) match {
        case Some((pc, nb)) => new LakeTable(spark, lakePath, "_id", pc, nb)
        case None if !probe.exists || probe.read.columns.contains("bucket") =>
          // new lake, or a pre-marker partitioned lake (CLI-built = default modulus)
          new LakeTable(spark, lakePath, "_id", IngestJob.LakePartitionCols)
        case None => probe
      }
      val drop = spark.read.parquet(arg(args, "--in").get)
      // no mapping TSV -> identity-map every drop column (otherwise they
      // would all be "unknown" and land in the extra residue map)
      val codes = arg(args, "--codes").map(Sources.loadColumnCodes(spark, _))
        .getOrElse(drop.columns.map(c => c -> c).toMap)
      // --audit-gate: the operational loop the events-ts incident
      // motivates — each gated run persists the MAPPED drop schema as a
      // sidecar and the next run refuses (diff printed) if its drop
      // RETYPES a field relative to the previous drop, instead of
      // discovering the drift as analysis errors mid-job. Added/removed
      // fields pass (schema evolution is supported; silent retypes are
      // not); comparing drop-vs-previous-drop, not drop-vs-lake, keeps
      // the lake's own canonicalization casts out of the diff.
      val gated = flag(args, "--audit-gate")
      val gatePath = new org.apache.hadoop.fs.Path(lakePath + ".dropschema.json")
      val gateFs = gatePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mappedSchema = drop.select(drop.columns.toIndexedSeq.map(c =>
        col(s"`$c`").as(codes.getOrElse(c, c))): _*).schema
      if (gated && gateFs.exists(gatePath)) {
        val in = gateFs.open(gatePath)
        val prevJson = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val prev = org.apache.spark.sql.types.DataType.fromJson(prevJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val drift = graft.lake.SchemaAudit.diff(spark, prev, mappedSchema)
          .filter(col("change") === "retyped").orderBy(col("field")).collect()
        if (drift.nonEmpty) {
          drift.foreach(r => println(s"[cli] audit-gate RETYPED ${r.getString(0)}: " +
            s"${r.getString(2)} -> ${r.getString(3)}"))
          sys.error(s"ingest refused by --audit-gate: ${drift.length} retyped field(s) " +
            "vs the previous drop; fix the drop or rerun without --audit-gate to force")
        }
      }
      IngestJob.run(spark, lake, drop, codes,
        arg(args, "--natural-id").getOrElse("id"),
        arg(args, "--updated").getOrElse("updated"),
        arg(args, "--group").map(_.toInt).getOrElse(0))
      if (gated) {
        val out = gateFs.create(gatePath, true)
        try out.write(mappedSchema.json.getBytes("UTF-8")) finally out.close()
      }
      // incremental lands fragment touched buckets one file at a time;
      // --compact folds the housekeeping into the same run (threshold
      // semantics as 'cli compact', so steady-state runs rewrite nothing)
      if (flag(args, "--compact"))
        println(s"[cli] ingest compact: ${lake.compact().size} partitions rewritten")
      // the row count is a full-table scan — at 100 TB an accidental
      // second pass per run; opt in with --verify
      if (flag(args, "--verify"))
        println(s"[cli] ingest done: ${lake.read.count()} rows in $lakePath")
      else println(s"[cli] ingest done: $lakePath")
    case "summary" =>
      val records = spark.read.parquet(arg(args, "--lake").get)
      val dims = arg(args, "--dims").map(_.split(",").toSeq).getOrElse(Seq.empty)
      val out = IngestJob.summarize(spark, records, dims)
      arg(args, "--out") match {
        case Some(o) => out.coalesce(1).write.mode("overwrite").parquet(o)
        case None => out.show(100, truncate = false)
      }
    case "harvest" =>
      // reference driver surface (get_documents.py): --scan_only stops
      // at URL extraction; otherwise the fetch stage runs with the
      // reference's politeness knobs — --delay ms (per-host rate limit,
      // get_documents.py:53) and --skip-servers h1,h2 (the skip list,
      // :177-183; skipped hosts land in the ledger as status=skipped,
      // never silently dropped). The fetcher is the deterministic stub
      // unless --real-http asks for the HttpURLConnection fetcher.
      val records = spark.read.parquet(arg(args, "--lake").get)
      val fields = arg(args, "--url-fields").map(_.split(",").toSeq).getOrElse(Seq.empty)
      val urls = HarvestJobs.harvest(records, arg(args, "--id-col").getOrElse("_id"), fields,
        idRange = (arg(args, "--ini"), arg(args, "--fin")),
        skipServers = arg(args, "--skip-servers")
          .map(_.split(",").toSet.filter(_.nonEmpty)).getOrElse(Set.empty),
        delayMs = arg(args, "--delay").map(_.toLong).getOrElse(0L),
        scanOnly = flag(args, "--scan_only"),
        fetcher = if (flag(args, "--real-http")) graft.harvest.Fetch.httpFetcher()
                  else graft.harvest.Fetch.stubFetcher)
      arg(args, "--out") match {
        case Some(o) =>
          urls.write.mode("overwrite").parquet(o)
          println(s"[cli] harvest: ${spark.read.parquet(o).count()} rows -> $o")
        case None => println(s"[cli] harvest: ${urls.count()} urls")
      }
    case "compact" =>
      // lake housekeeping after N incremental ingests: rewrite fragmented
      // partitions into target-size, key-sorted files (row-group pruning)
      val lakePath = arg(args, "--lake").get
      val lake = LakeTable.layoutOf(spark, lakePath) match {
        case Some((pc, nb)) => new LakeTable(spark, lakePath, "_id", pc, nb)
        case None => // pre-marker partitioned lakes fall back to the default layout
          val probe = new LakeTable(spark, lakePath, "_id")
          if (probe.exists && probe.read.columns.contains("bucket"))
            new LakeTable(spark, lakePath, "_id", IngestJob.LakePartitionCols)
          else probe
      }
      val done = lake.compact(
        maxFilesPerPartition = arg(args, "--max-files").map(_.toInt).getOrElse(4),
        targetFileBytes = arg(args, "--target-bytes").map(_.toLong).getOrElse(128L << 20))
      println(s"[cli] compact: ${done.size} partitions rewritten")
    case "stats" =>
      // fragmentation report from the file listing alone (no data read):
      // the view compact acts on, printable before paying for a rewrite
      val lakePath = arg(args, "--lake").get
      val lake = LakeTable.layoutOf(spark, lakePath) match {
        case Some((pc, nb)) => new LakeTable(spark, lakePath, "_id", pc, nb)
        case None => new LakeTable(spark, lakePath, "_id")
      }
      lake.stats.show(1000, truncate = false)
    case "cluster" =>
      // z-order OPTIMIZE: rewrite files sorted by the Morton key of
      // --by cols so footers prune on every one of them
      val lakePath = arg(args, "--lake").get
      val lake = LakeTable.layoutOf(spark, lakePath) match {
        case Some((pc, nb)) =>
          new LakeTable(spark, lakePath, arg(args, "--key").getOrElse("_id"), pc, nb)
        case None => new LakeTable(spark, lakePath, arg(args, "--key").getOrElse("_id"))
      }
      val cols = arg(args, "--by").get.split(",").toSeq
      val n = lake.clusterBy(cols,
        bits = arg(args, "--bits").map(_.toInt).getOrElse(16),
        targetFileBytes = arg(args, "--target-bytes").map(_.toLong).getOrElse(128L << 20))
      println(s"[cli] cluster: rewrote into $n files z-ordered by ${cols.mkString(",")}")
    case "index" =>
      // persisted index tiers: bloom point-lookup (default), minhash
      // near-dup band index, IVF-SQ8 ANN lists — build / refresh / probe;
      // zonemap serves range scans from the snapshot manifest's stats
      val lakePath = arg(args, "--lake").get
      val key = arg(args, "--key").getOrElse("_id")
      arg(args, "--kind").getOrElse("bloom") match {
        case "bloom" =>
          val lake = LakeTable.layoutOf(spark, lakePath) match {
            case Some((pc, nb)) => new LakeTable(spark, lakePath, key, pc, nb)
            case None => new LakeTable(spark, lakePath, key)
          }
          arg(args, "--get") match {
            case Some(keys) =>
              val (rows, opened) = lake.lookupKeys(keys.split(",").toSeq)
              rows.show(100, truncate = false)
              println(s"[cli] index lookup: opened $opened files")
            case None =>
              if (flag(args, "--refresh")) {
                val (kept, rebuilt) = lake.refreshBloomIndex()
                println(s"[cli] index refresh: kept $kept, re-bloomed $rebuilt files")
              } else println(s"[cli] index build: ${lake.buildBloomIndex()} files indexed")
          }
        case "minhash" =>
          // churn-refreshed LSH band index over any parquet corpus
          val docs = spark.read.parquet(lakePath)
          val idx = arg(args, "--path").getOrElse(lakePath + ".bandidx")
          val id = arg(args, "--key").getOrElse("doc_id")
          val text = arg(args, "--text").getOrElse("text")
          if (flag(args, "--pairs"))
            println(s"[cli] index pairs: ${graft.ops.DedupIndex.candidatePairs(spark, idx).count()} candidate near-dup pairs")
          else if (flag(args, "--refresh")) {
            val (kept, signed) = graft.ops.DedupIndex.refresh(docs, id, text, idx)
            println(s"[cli] index refresh: carried $kept docs, signed $signed (churn)")
          } else println(s"[cli] index build: ${graft.ops.DedupIndex.build(docs, id, text, idx)} docs signed")
        case "ivf" =>
          // churn-refreshed IVF-SQ8 inverted lists over an embedding corpus
          val emb = spark.read.parquet(lakePath)
          val idx = arg(args, "--path").getOrElse(lakePath + ".ivfidx")
          val id = arg(args, "--key").getOrElse("vec_id")
          val vec = arg(args, "--vec").getOrElse("embedding")
          if (flag(args, "--refresh")) {
            val (kept, signed) = graft.ops.SimilarityIndex.refresh(emb, id, vec, idx)
            println(s"[cli] index refresh: carried $kept rows, quantized $signed (churn)")
          } else {
            val n = graft.ops.SimilarityIndex.build(emb, id, vec, idx,
              arg(args, "--nlist").map(_.toInt).getOrElse(64))
            println(s"[cli] index build: $n vectors listed")
          }
        case "pq" =>
          // churn-refreshed IVF-PQ coded lists (mSub bytes per vector —
          // the RAM-resident serving tier; codebooks pin at build)
          val emb = spark.read.parquet(lakePath)
          val idx = arg(args, "--path").getOrElse(lakePath + ".pqidx")
          val id = arg(args, "--key").getOrElse("vec_id")
          val vec = arg(args, "--vec").getOrElse("embedding")
          if (flag(args, "--refresh")) {
            val (kept, signed) = graft.ops.PqIndex.refresh(emb, id, vec, idx)
            println(s"[cli] index pq refresh: carried $kept rows, encoded $signed (churn)")
          } else {
            // --opq pins a parametric-OPQ rotation beside the codebooks
            val n = graft.ops.PqIndex.build(emb, id, vec, idx,
              arg(args, "--nlist").map(_.toInt).getOrElse(64),
              arg(args, "--msub").map(_.toInt).getOrElse(8),
              arg(args, "--ks").map(_.toInt).getOrElse(256),
              opq = flag(args, "--opq"))
            println(s"[cli] index pq build: $n vectors coded" +
              (if (flag(args, "--opq")) " (opq-rotated)" else ""))
          }
        case "imipq" =>
          // churn-refreshed IMI-PQ coded lists: product cells from two
          // sub-codebooks (O(sqrt(nCells)·dim) state — the 10^10+-vector
          // factorization), 8-byte residual codes under the derived mu
          val emb = spark.read.parquet(lakePath)
          val idx = arg(args, "--path").getOrElse(lakePath + ".imipqidx")
          val id = arg(args, "--key").getOrElse("vec_id")
          val vec = arg(args, "--vec").getOrElse("embedding")
          if (flag(args, "--refresh")) {
            val (kept, signed) = graft.ops.ImiPqIndex.refresh(emb, id, vec, idx)
            println(s"[cli] index imipq refresh: carried $kept rows, encoded $signed (churn)")
          } else {
            val n = graft.ops.ImiPqIndex.build(emb, id, vec, idx,
              arg(args, "--ncells").map(_.toLong).getOrElse(4096L),
              arg(args, "--msub").map(_.toInt).getOrElse(8),
              arg(args, "--ks").map(_.toInt).getOrElse(256))
            println(s"[cli] index imipq build: $n vectors coded")
          }
        case "pca" =>
          // incremental PCA moment index over an embedding corpus:
          // build/land a drop segment (--drop-id, --retract for the old
          // vectors of a re-embedding), or fit/print the eigenbasis
          val emb = spark.read.parquet(lakePath)
          val idx = arg(args, "--path").getOrElse(lakePath + ".pcaidx")
          val vec = arg(args, "--vec").getOrElse("embedding")
          val dim = arg(args, "--dim").map(_.toInt).getOrElse(64)
          arg(args, "--fit") match {
            case Some(m) =>
              // full spectrum for the variance-explained denominator
              // (the Jacobi sweep is dim×dim driver work either way)
              val full = graft.ops.PcaIndex.serveModel(spark, idx, dim, dim)
              val kept = full.eigenvalues.take(m.toInt)
              val tot = full.eigenvalues.sum
              println(s"[cli] index pca fit: m=$m eigenvalues=${
                kept.map(v => f"$v%.6f").mkString(",")} " +
                f"variance_explained=${if (tot == 0) 0.0 else kept.sum / tot}%.3f")
            case None =>
              val dropId = arg(args, "--drop-id").getOrElse("bulk")
              val sign = if (flag(args, "--retract")) -1 else 1
              val n = graft.ops.PcaIndex.landDrop(emb, vec, dim, idx, dropId, sign)
              println(s"[cli] index pca: landed $n moment rows as seg=$dropId (sign=$sign)")
          }
        case "zonemap" =>
          // RANGE scan over a snapshot lake, pruned by the per-file
          // min/max stats every commit writes into its manifest (the
          // range sibling of --kind bloom; nothing to build or refresh):
          // --range lo,hi [--col c] reports the files opened
          val lake = new graft.lake.SnapshotLake(spark, lakePath, key)
          val Array(lo, hi) = arg(args, "--range")
            .getOrElse(sys.error("index --kind zonemap needs --range lo,hi")).split(",", 2)
          val (rows, opened) = graft.lake.ZoneMapIndex.rangeLookupSnapshot(
            lake, arg(args, "--col").getOrElse(key), org.apache.spark.sql.functions.expr(lo),
            org.apache.spark.sql.functions.expr(hi))
          rows.show(100, truncate = false)
          println(s"[cli] zonemap range scan: opened $opened files")
        case other => println(
          s"index --kind bloom|minhash|ivf|pq|imipq|pca|zonemap --range lo,hi [--col c] (got '$other')")
      }
    case "semdedup" =>
      // cluster-partitioned semantic dedup over an embedding corpus.
      // One-shot (default): (id, cell, component, keep) labels —
      // keep=false rows are the near-duplicates a curation pass drops.
      // With --index-path: the PERSISTED label index — --refresh
      // maintains it at churn cost under the codebook/threshold pinned
      // at build, --serve prints without any clustering work.
      val id = arg(args, "--key").getOrElse("vec_id")
      val vec = arg(args, "--vec").getOrElse("embedding")
      arg(args, "--index-path") match {
        case Some(idx) if flag(args, "--serve") =>
          graft.ops.SemDedupIndex.serve(spark, idx)
            .orderBy(col("doc")).show(100, truncate = false)
        case Some(idx) if flag(args, "--refresh") =>
          val emb = spark.read.parquet(arg(args, "--in").get)
          val (carried, relabeled) =
            graft.ops.SemDedupIndex.refresh(emb, id, vec, idx)
          println(s"[cli] semdedup refresh: carried $carried docs, relabeled $relabeled (churn)")
        case Some(idx) =>
          val emb = spark.read.parquet(arg(args, "--in").get)
          val n = graft.ops.SemDedupIndex.build(emb, id, vec, idx,
            arg(args, "--nlist").map(_.toInt).getOrElse(64),
            BigDecimal(arg(args, "--threshold").getOrElse("0.35")),
            trained = flag(args, "--trained"))
          println(s"[cli] semdedup build: $n docs labeled -> $idx")
        case None =>
          val emb = spark.read.parquet(arg(args, "--in").get)
          val cents = graft.ops.Similarity.ivfCentroids(emb, id, vec,
            arg(args, "--nlist").map(_.toInt).getOrElse(64))
          val out = graft.ops.Similarity.semanticDedup(emb, id, vec, cents,
            BigDecimal(arg(args, "--threshold").getOrElse("0.35")))
          arg(args, "--out") match {
            case Some(o) => out.write.mode("overwrite").parquet(o)
              val dropped = spark.read.parquet(o).filter(!col("keep")).count()
              println(s"[cli] semdedup: $dropped semantic near-dups flagged -> $o")
            case None => out.orderBy(col("id")).show(100, truncate = false)
          }
      }
    case "sparsesim" =>
      // hashed-TF posting build + df-pruned inverted-index cosine top-k
      // over a text corpus (the model-free similarity join)
      val docs = spark.read.parquet(arg(args, "--in").get)
      val id = arg(args, "--key").getOrElse("doc_id")
      val text = arg(args, "--text").getOrElse("text")
      val posts = graft.ops.TextAnalysis.hashedTf(docs, id, text)
      val cap = arg(args, "--max-posting").map(_.toLong)
        .getOrElse(math.max(16L, (docs.count() + 19) / 20))
      val topk = graft.ops.Similarity.sparseCosineTopK(posts,
        arg(args, "--k").map(_.toInt).getOrElse(10), cap)
      arg(args, "--out") match {
        case Some(o) => topk.write.mode("overwrite").parquet(o)
          println(s"[cli] sparsesim: ${spark.read.parquet(o).count()} neighbor rows -> $o (cap=$cap)")
        case None => topk.orderBy(col("qid"), col("rank")).show(100, truncate = false)
      }
    case "repair" =>
      // chain maintenance (ref checking/check_versions_completness.py):
      // repoint stale tombstone updated_to pointers to the active head,
      // touched buckets only; optional --legacy parquet for the J7 arm
      val lakePath = arg(args, "--lake").get
      val lake = LakeTable.layoutOf(spark, lakePath) match {
        case Some((pc, nb)) => new LakeTable(spark, lakePath, "_id", pc, nb)
        case None => new LakeTable(spark, lakePath, "_id")
      }
      val legacy = arg(args, "--legacy").map(spark.read.parquet(_))
      val report = RepairJob.run(spark, lake,
        arg(args, "--natural-id").getOrElse("id"), legacy)
      val counts = report.groupBy("action").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"[cli] repair: ${if (counts.isEmpty) "clean" else counts}")
    case "sync" =>
      val origin = spark.read.parquet(arg(args, "--origin").get)
      val dest = spark.read.parquet(arg(args, "--dest").get)
      val manifest = HarvestJobs.sync(origin, dest, (arg(args, "--ini"), arg(args, "--fin")))
      arg(args, "--patch_list") match {
        case Some(o) => manifest.coalesce(1).write.mode("overwrite").csv(o)
        case None => println(s"[cli] sync manifest: ${manifest.count()} ops")
      }
    case "purge" =>
      // purge_documents entry point (K7): move blobs of obsolete records
      // storage -> backup (delete after copy); --recover_backup inverts;
      // --dry_run reports the manifest without touching bytes
      val lake = spark.read.parquet(arg(args, "--lake").get)
      val storageDir = arg(args, "--storage").get
      val recover = flag(args, "--recover_backup")
      // the manifest is derived from the SOURCE of the move: the live
      // storage for a purge, the backup store for a recover
      val listing = Sources.listStorage(spark,
        if (recover) arg(args, "--backup").get else storageDir)
      val obsolete = lake.filter(col("obsolete_version") === true)
        .filter(NtpIds.inRange(col("_id"), arg(args, "--ini"), arg(args, "--fin")))
        .select(col("_id").as("ntp_id"))
      val result = HarvestJobs.purge(listing, obsolete, storageDir,
        arg(args, "--backup").get,
        dryRun = flag(args, "--dry_run"), recover = recover)
      println(s"[cli] purge: ${result.filter(col("ok")).count()} blobs moved")
    case "curate" =>
      // the training-data assembly (corpus_pipeline shape) as an
      // operational job: canonical near-dup keep -> optional eval
      // decontamination -> quality gate -> sequence packing, landed as
      // shard-partitioned parquet ready for a trainer's data loader
      import org.apache.spark.sql.functions._
      import graft.ops.{Dedup, TextAnalysis}
      val docs = spark.read.parquet(arg(args, "--in").get)
      val idCol = arg(args, "--id-col").getOrElse("doc_id")
      val textCol = arg(args, "--text-col").getOrElse("text")
      val shardCol = arg(args, "--shard-col").getOrElse("source")
      val minQ = arg(args, "--min-quality").map(_.toDouble).getOrElse(0.5)
      val budget = arg(args, "--budget").map(_.toInt).getOrElse(2048)
      val docsSh = docs
        .select(col(idCol).as("doc"), Dedup.shingles(col(textCol)).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comp = Dedup.connectedComponents(Dedup.minhashCandidatesFromShingles(docsSh))
      var kept = docs
        .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
        .join(comp, col(idCol) === col("node"), "left_outer")
        .filter(coalesce(col("component"), col(idCol)) === col(idCol))
        .drop("node", "component")
        .filter(TextAnalysis.qualityScoreT(col("__toks"), col(textCol)) >= minQ)
      arg(args, "--eval").foreach { evalPath =>
        val evalSh = spark.read.parquet(evalPath)
          .select(Dedup.shingles(col(textCol)).as("sh"))
        val contam = Dedup.contaminatedFromShingles(docsSh, evalSh,
            arg(args, "--min-shared").map(_.toInt).getOrElse(1))
          .select(col("doc").as(idCol))
        kept = kept.join(contam, Seq(idCol), "left_anti")
      }
      val packed = TextAnalysis.packSequences(kept, shardCol, idCol, textCol, budget)
        .join(kept.select(col(idCol), col(textCol)), Seq(idCol))
      val out = arg(args, "--out").get
      packed.write.mode("overwrite").partitionBy(shardCol).parquet(out)
      println(s"[cli] curate: ${spark.read.parquet(out).count()} docs packed to $out")
    case "snap" =>
      // snapshot-lake operations: history (manifest-only), time-travel
      // read, vacuum, change feed. `--at` picks a version for read;
      // vacuum retains --keep newest versions (default 2)
      val lake = new graft.lake.SnapshotLake(spark,
        arg(args, "--lake").get, arg(args, "--key").getOrElse("_id"))
      arg(args, "--op").getOrElse("history") match {
        case "history" => lake.history().orderBy(col("version")).show(1000, truncate = false)
        case "read" =>
          val df = arg(args, "--at").map(_.toLong).map(lake.readAt).getOrElse(lake.read)
          df.show(arg(args, "--n").map(_.toInt).getOrElse(20), truncate = false)
        case "vacuum" =>
          val (d, m) = lake.vacuum(arg(args, "--keep").map(_.toInt).getOrElse(2))
          println(s"[cli] snap vacuum: $d data files, $m manifests removed")
        case "changes" =>
          // net row-level change feed since --from (up to --to, default
          // newest); reads only the churned files
          val from = arg(args, "--from").getOrElse(
            sys.error("snap --op changes requires --from <version> [--to <version>] [--out <dir>]")).toLong
          val df = arg(args, "--to").map(_.toLong)
            .map(lake.changesBetween(from, _)).getOrElse(lake.changesSince(from))
          arg(args, "--out") match {
            case Some(out) => df.write.mode("overwrite").parquet(out)
              println(s"[cli] snap changes: ${spark.read.parquet(out).count()} rows to $out")
            case None => df.show(arg(args, "--n").map(_.toInt).getOrElse(20), truncate = false)
          }
        case "compact" =>
          val (p, n) = lake.compact(
            arg(args, "--small-mb").map(_.toLong << 20).getOrElse(32L << 20),
            arg(args, "--target-mb").map(_.toLong << 20).getOrElse(128L << 20))
          println(s"[cli] snap compact: $p files packed into $n")
        case "cluster" =>
          val cols = arg(args, "--cols").getOrElse(
            sys.error("snap --op cluster requires --cols c1,c2,…")).split(',').toSeq
          lake.cluster(cols.map(col), arg(args, "--n").map(_.toInt).getOrElse(32))
          println(s"[cli] snap cluster: rewrote sorted by ${cols.mkString(",")}")
        case other => println(s"snap --op history|read|vacuum|changes|compact|cluster (got '$other')")
      }
    case "drop" =>
      // the monthly-drop runbook in one command: snapshot CoW upsert,
      // then churn-proportional refresh of every maintained artifact
      // (bloom sidecar; band index with --text-col; summary segments
      // with --dims/--sums/--summary-path; HLL with --hll-path;
      // frequent-items with --topk-path [--topk-key --topk-k]; the
      // retractable bigram-LM counts with --lm-path + --text-col; the
      // BM25 posting-list index with --postings-path + --text-col; the
      // ε-rank quantile summaries with --quantile-path +
      // --quantile-value [--quantile-k])
      import graft.lake.MaterializedAgg
      val lake = new graft.lake.SnapshotLake(spark,
        arg(args, "--lake").get, arg(args, "--key").getOrElse("_id"))
      val dropDf = spark.read.parquet(arg(args, "--in").get)
      val summary = for {
        dims <- arg(args, "--dims"); sums <- arg(args, "--sums")
        p <- arg(args, "--summary-path")
      } yield (MaterializedAgg.Spec(dims.split(",").toSeq,
        sums = sums.split(",").toSeq.map { kv =>
          val Array(a, c) = kv.split("=", 2); a -> col(c)
        }), p)
      // dead-letter quarantine rides the runbook: the shared dq rule
      // flags + --quarantine-path. Loud-pair rule like the other tiers —
      // rules without a path (or a path without rules) is a misuse that
      // must not silently skip the split
      val (dropRules, dropUniques) = parseDqRules(args)
      if (dropUniques.nonEmpty)
        sys.error("drop quarantine is a ROW-LOCAL split: 'unique' rules " +
          "cannot quarantine individual rows — audit them with `cli dq` instead")
      if (dropRules.nonEmpty != arg(args, "--quarantine-path").isDefined)
        sys.error("drop needs BOTH dq rules (flags or --rules file) and --quarantine-path (or neither)")
      // the quarantine seg id makes a crashed-cycle re-run REPLACE its
      // dead letters instead of duplicating them — so it must be the
      // operator's stable name for the drop, required explicitly
      if (arg(args, "--quarantine-path").isDefined && arg(args, "--drop-id").isEmpty)
        sys.error("drop with --quarantine-path needs --drop-id " +
          "(the stable cycle name dead letters land under; re-runs replace it)")
      val conf = graft.pipeline.DropCycle.Config(
        expect = arg(args, "--quarantine-path").map(p =>
          (dropRules, p, arg(args, "--drop-id").get)),
        textCol = arg(args, "--text-col"),
        bandIdxPath = arg(args, "--band-path"),
        textStatsPath = arg(args, "--text-stats-path"),
        bloom = !flag(args, "--no-bloom"),
        summary = summary,
        hll = arg(args, "--hll-path").map(p =>
          (arg(args, "--dims").map(_.split(",").toSeq).getOrElse(Nil),
            arg(args, "--key").getOrElse("_id"), p)),
        topk = arg(args, "--topk-path").map(p =>
          (Nil, arg(args, "--topk-key").getOrElse(arg(args, "--key").getOrElse("_id")),
            arg(args, "--topk-k").map(_.toInt).getOrElse(64), p)),
        lmPath = arg(args, "--lm-path"),
        postingsPath = arg(args, "--postings-path"),
        clusterIdxPath = arg(args, "--cluster-path"), // needs --text-col

        // ε-rank quantile summaries: --quantile-path + --quantile-value
        // [--dims --quantile-k]; event-stream semantics (Config.quantile).
        // Half the pair is a hard error (like --emb-in/--emb-index-path):
        // silently skipping the tier would serve stale quantiles
        quantile = {
          if (arg(args, "--quantile-path").isDefined != arg(args, "--quantile-value").isDefined)
            sys.error("drop needs BOTH --quantile-path and --quantile-value (or neither)")
          for {
            p <- arg(args, "--quantile-path"); v <- arg(args, "--quantile-value")
          } yield (arg(args, "--dims").map(_.split(",").toSeq).getOrElse(Nil),
            v, arg(args, "--quantile-k").map(_.toInt).getOrElse(64), p)
        })
      // embeddings-side maintenance rides the same command when the drop
      // ships re-embedded vectors: --emb-in + --emb-index-path
      // [--emb-id --emb-vec]. Half the pair is a hard error — silently
      // skipping index maintenance would serve stale neighbors. Pair
      // guards run BEFORE the lake ingest so a malformed invocation
      // fails fast instead of mutating the lake first
      val embIn = arg(args, "--emb-in")
      val embIdx = arg(args, "--emb-index-path")
      if (embIn.isDefined != embIdx.isDefined)
        sys.error("drop needs BOTH --emb-in and --emb-index-path (or neither)")
      // PCA moments tier rides the embeddings drop: --pca-path +
      // --pca-drop-id [--pca-dim --pca-retract-in]. Loud-pair rule as
      // above; a retract input lands a sign=-1 segment of the OLD
      // vectors so re-embedded docs don't double-count
      if (arg(args, "--pca-path").isDefined != arg(args, "--pca-drop-id").isDefined)
        sys.error("drop needs BOTH --pca-path and --pca-drop-id (or neither)")
      if (arg(args, "--pca-path").isDefined && embIn.isEmpty)
        sys.error("--pca-path requires an embeddings drop (--emb-in)")
      val pca = arg(args, "--pca-path").zip(arg(args, "--pca-drop-id")).map {
        case (p, d) => (p, arg(args, "--pca-dim").map(_.toInt).getOrElse(64), d)
      }
      embIdx.foreach(graft.pipeline.DropCycle.requireEmbeddingPaths(spark, _, pca))
      val report = graft.pipeline.DropCycle.run(lake, dropDf, conf)
      val embReport = embIn.zip(embIdx).map {
        case (in, idx) => graft.pipeline.DropCycle.runEmbeddings(
          spark.read.parquet(in), arg(args, "--emb-id").getOrElse("vec_id"),
          arg(args, "--emb-vec").getOrElse("embedding"), idx, pca = pca,
          pcaRetract = arg(args, "--pca-retract-in").map(spark.read.parquet(_)))
      }.getOrElse(Map.empty)
      (report ++ embReport).toSeq.sortBy(_._1).foreach { case (tier, (a, b)) =>
        println(s"[cli] drop $tier: $a/$b") }
    case "profile" =>
      // one-pass column audit (rows/nulls/distinct/min/max) before a
      // drop is trusted; --approx swaps exact distinct for HLL
      val df = spark.read.parquet(arg(args, "--in").get)
      val cols = arg(args, "--cols").map(_.split(",").toSeq)
        .getOrElse(df.columns.toSeq)
      val prof = graft.ops.Profiler.profile(df, cols, approx = flag(args, "--approx"))
        .orderBy(col("col_name"))
      arg(args, "--out") match {
        case Some(o) => prof.coalesce(1).write.mode("overwrite").parquet(o)
        case None => prof.show(1000, truncate = false)
      }
    case "dq" =>
      // declarative data-quality audit over any parquet input — N rules
      // cost ONE scan; --gate throws listing every failed rule:
      //   cli dq --in t.parquet --not-null a,b --unique k \
      //     --range price:0:1000 --accepted status:F|O \
      //     --matches 'prio:^[1-5]-[A-Z]+$' [--rules contract.json] [--gate]
      import graft.ops.Expectations
      val df = spark.read.parquet(arg(args, "--in").get)
      val (rules, fileUniques) = parseDqRules(args)
      val uniq = (arg(args, "--unique").map(_.split(",").toSeq).getOrElse(Nil) ++
        fileUniques).distinct
      if (flag(args, "--gate")) {
        Expectations.gate(df, rules, uniq)
        println("[cli] dq gate: all expectations hold")
      } else Expectations.report(df, rules, uniq)
        .orderBy(col("rule")).show(100, truncate = false)
    case "fuzzy" =>
      // edit-distance join (entity resolution): self-join over --in, or
      // probe-vs-reference with --ref; with --index-path the master side
      // rides the persisted chunk index (build if absent, churn-refresh
      // if present; probes then resolve with zero master chunking):
      //   cli fuzzy --in names.parquet --id _id --str name --max-dist 1
      //     [--ref master.parquet --ref-id mid --ref-str mname] [--out p]
      //   cli fuzzy --index-path idx --ref master.parquet --ref-id mid --ref-str mname --max-dist 2
      //   cli fuzzy --index-path idx --in probes.parquet --id pid --str pname [--out p]
      val id = arg(args, "--id").getOrElse("_id")
      val str = arg(args, "--str").getOrElse("name")
      val d = arg(args, "--max-dist").map(_.toInt).getOrElse(1)
      // --cand-budget <perString>: the measured-volume complement-key
      // escalation gate (0 disables; default 16 — see FuzzyJoin)
      val candBudget = arg(args, "--cand-budget").map(_.toLong).getOrElse(16L)
      def emit(pairs: org.apache.spark.sql.DataFrame): Unit = arg(args, "--out") match {
        case Some(o) =>
          pairs.write.mode("overwrite").parquet(o)
          println(s"[cli] fuzzy: ${spark.read.parquet(o).count()} pairs -> $o")
        case None => pairs.orderBy(pairs.columns.map(col): _*).show(100, truncate = false)
      }
      (arg(args, "--index-path"), arg(args, "--ref")) match {
        case (Some(idx), Some(ref)) => // maintain the master index
          val rid = arg(args, "--ref-id").getOrElse(id)
          val rstr = arg(args, "--ref-str").getOrElse(str)
          val refDf = spark.read.parquet(ref)
          val metaP = new org.apache.hadoop.fs.Path(idx + "/meta")
          val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(metaP)) {
            // the distance is PINNED at build: a refresh invoked with a
            // different --max-dist must fail loudly, not silently keep
            // probing at the old distance (rebuild to retune)
            arg(args, "--max-dist").map(_.toInt).foreach { want =>
              val pinned = graft.ops.FuzzyJoinIndex.readMeta(spark, idx).maxDist
              if (want != pinned)
                sys.error(s"fuzzy index at $idx is pinned at --max-dist $pinned; " +
                  s"got $want — rebuild the index to change the distance")
            }
            val (carried, chunked) = graft.ops.FuzzyJoinIndex.refresh(refDf, rid, rstr, idx)
            println(s"[cli] fuzzy index refresh: carried $carried, re-chunked $chunked (churn)")
          } else {
            // --cand-budget reaches the BUILD: the key scheme (classic
            // vs complement) is measured and pinned here — the round-15
            // gap where the budget knob only drove the recompute path
            val n = graft.ops.FuzzyJoinIndex.build(refDf, rid, rstr, idx, d,
              candBudgetPerString = candBudget)
            val scheme = graft.ops.FuzzyJoinIndex.readMeta(spark, idx).keyScheme
            println(s"[cli] fuzzy index build: $n master strings ($scheme keys) -> $idx")
          }
        case (Some(idx), None) => // probe the persisted master
          // same pinned-distance guard as the refresh path: a probe
          // invoked with a different --max-dist must fail loudly, not
          // silently return pairs at the build-time distance
          arg(args, "--max-dist").map(_.toInt).foreach { want =>
            val pinned = graft.ops.FuzzyJoinIndex.readMeta(spark, idx).maxDist
            if (want != pinned)
              sys.error(s"fuzzy index at $idx is pinned at --max-dist $pinned; " +
                s"got $want — rebuild the index to change the distance")
          }
          emit(graft.ops.FuzzyJoinIndex.probe(
            spark.read.parquet(arg(args, "--in").get), id, str, idx))
        case (None, _) =>
          val df = spark.read.parquet(arg(args, "--in").get)
          emit(arg(args, "--ref") match {
            case Some(ref) =>
              graft.ops.FuzzyJoin.editDistanceJoin(df, id, str,
                spark.read.parquet(ref), arg(args, "--ref-id").getOrElse(id),
                arg(args, "--ref-str").getOrElse(str), d,
                candBudgetPerString = candBudget)
            case None => graft.ops.FuzzyJoin.editDistanceSelfJoin(df, id, str, d,
              candBudgetPerString = candBudget)
          })
      }
    case "matagg" =>
      // incremental materialized summary: land one partial-agg segment
      // per drop, serve the merge, compact history — calc_summary made
      // churn-proportional. Measures parse as alias=col comma lists.
      import graft.lake.MaterializedAgg
      def measures(name: String): Seq[(String, org.apache.spark.sql.Column)] =
        arg(args, name).map(_.split(",").toSeq.map { kv =>
          val Array(a, c) = kv.split("=", 2)
          a -> col(c)
        }).getOrElse(Nil)
      val spec = MaterializedAgg.Spec(
        dims = arg(args, "--dims").map(_.split(",").toSeq).getOrElse(Nil),
        sums = measures("--sums"), mins = measures("--mins"), maxs = measures("--maxs"))
      val path = arg(args, "--path").get
      arg(args, "--op").getOrElse("serve") match {
        case "land" =>
          val n = MaterializedAgg.landDrop(
            spark.read.parquet(arg(args, "--in").get), spec, path,
            arg(args, "--drop-id").getOrElse(sys.error("matagg --op land requires --drop-id")))
          println(s"[cli] matagg land: $n groups in segment")
        case "serve" =>
          MaterializedAgg.serve(spark, path, spec)
            .orderBy(spec.dims.map(col): _*).show(1000, truncate = false)
        case "compact" =>
          MaterializedAgg.compact(spark, path, spec,
            arg(args, "--drop-id").getOrElse("base"))
          println(s"[cli] matagg compact: folded into seg=${arg(args, "--drop-id").getOrElse("base")}")
        case other => println(s"matagg --op land|serve|compact (got '$other')")
      }
    case "lm" =>
      // incremental bigram-LM model: land one count segment per drop
      // (or a retracting change-feed segment), score a corpus against
      // the merged model — fluency filtering made churn-proportional
      import graft.ops.Relevance
      val path = arg(args, "--path").get
      val id = arg(args, "--id").getOrElse("_id")
      val text = arg(args, "--text-col").getOrElse("text")
      arg(args, "--op").getOrElse("score") match {
        case "land" =>
          val n = Relevance.landLmDrop(spark.read.parquet(arg(args, "--in").get),
            id, text, path,
            arg(args, "--drop-id").getOrElse(sys.error("lm --op land requires --drop-id")))
          println(s"[cli] lm land: $n bigrams in segment")
        case "changes" =>
          val n = Relevance.landLmChangesDrop(spark.read.parquet(arg(args, "--in").get),
            id, text, path,
            arg(args, "--drop-id").getOrElse(sys.error("lm --op changes requires --drop-id")))
          println(s"[cli] lm changes: $n signed bigrams in segment")
        case "score" =>
          val scored = Relevance.scoreAgainstCounts(
            spark.read.parquet(arg(args, "--in").get), id, text,
            Relevance.serveLmCounts(spark, path))
          arg(args, "--out") match {
            case Some(o) => scored.write.mode("overwrite").parquet(o)
            case None => scored.orderBy(col("avg_ppm")).show(50, truncate = false)
          }
        case other => println(s"lm --op land|changes|score (got '$other')")
      }
    case "bm25" =>
      // persisted posting-list index: build from a corpus, refresh on a
      // new corpus state (churn-proportional), probe terms without ever
      // re-reading the corpus text
      import graft.ops.PostingsIndex
      val path = arg(args, "--path").get
      val id = arg(args, "--id").getOrElse("_id")
      val text = arg(args, "--text-col").getOrElse("text")
      arg(args, "--op").getOrElse("probe") match {
        case "build" =>
          val n = PostingsIndex.build(spark.read.parquet(arg(args, "--in").get), id, text, path)
          println(s"[cli] bm25 build: $n docs indexed")
        case "refresh" =>
          val (kept, signed) = PostingsIndex.refresh(
            spark.read.parquet(arg(args, "--in").get), id, text, path)
          println(s"[cli] bm25 refresh: $kept carried, $signed signed")
        case "probe" =>
          val terms = arg(args, "--terms")
            .getOrElse(sys.error("bm25 --op probe requires --terms t1,t2,...")).split(",").toSeq
          val scored = PostingsIndex.bm25(spark, path, terms)
          arg(args, "--out") match {
            case Some(o) => scored.write.mode("overwrite").parquet(o)
            case None => scored.orderBy(col("score").desc).show(50, truncate = false)
          }
        case other => println(s"bm25 --op build|refresh|probe (got '$other')")
      }
    case "sketch" =>
      // churn-proportional counting: exact distinct-pair segments,
      // mergeable HLL sketches, or top-k frequent-items segments —
      // landed per drop, folded with --op compact
      import graft.ops.Sketches
      val path = arg(args, "--path").get
      val dims = arg(args, "--dims").map(_.split(",").toSeq).getOrElse(Nil)
      val key = arg(args, "--key").getOrElse("_id")
      val kind = arg(args, "--kind").getOrElse("distinct")
      val k = arg(args, "--k").map(_.toInt).getOrElse(64)
      arg(args, "--op").getOrElse("serve") match {
        case "land" =>
          val drop = spark.read.parquet(arg(args, "--in").get)
          val id = arg(args, "--drop-id").getOrElse(sys.error("sketch --op land requires --drop-id"))
          val n = kind match {
            case "hll"  => Sketches.landHllDrop(drop, dims, key, path, id)
            case "topk" => Sketches.landTopKDrop(drop, dims, key, k, path, id)
            case _      => Sketches.landDistinctDrop(drop, dims, key, path, id)
          }
          println(s"[cli] sketch land: $n rows in segment")
        case "serve" =>
          kind match {
            case "hll" => Sketches.serveHllEstimate(spark, path, dims)
              .orderBy(dims.map(col): _*).show(1000, truncate = false)
            case "topk" => Sketches.serveTopK(spark, path, dims, key)
              .orderBy(col("n_est").desc).show(1000, truncate = false)
            case _ => Sketches.serveDistinct(spark, path, dims, key)
              .orderBy(dims.map(col): _*).show(1000, truncate = false)
          }
        case "compact" =>
          kind match {
            case "hll"  => Sketches.compactHll(spark, path, dims)
            case "topk" => Sketches.compactTopK(spark, path, dims, key, k)
            case _      => Sketches.compactDistinct(spark, path, dims, key)
          }
          println(s"[cli] sketch compact: $kind tier folded into seg=base")
        case "intersect" =>
          // metadata-only set algebra between TWO hll tiers:
          //   cli sketch --op intersect --path A --path-b B --dims g
          val b = arg(args, "--path-b").getOrElse(
            sys.error("sketch --op intersect requires --path-b <hllTier>"))
          Sketches.serveHllSetAlgebra(spark, path, b, dims)
            .orderBy(dims.map(col): _*).show(1000, truncate = false)
        case other => println(s"sketch --op land|serve|compact|intersect (got '$other')")
      }
    case "sample" =>
      // deterministic sampling / training order:
      //   cli sample --in p --id doc_id --weight-col w --step 997 [--out p]
      //     -> systematic PPS with multiplicity (copies = epochs ∝ weight)
      //   cli sample --in p --id doc_id --shuffle-shards 16 [--out p]
      //     -> hash-ordered positions 0..n-1 + round-robin shard striping
      val df = spark.read.parquet(arg(args, "--in").get)
      val id = arg(args, "--id").getOrElse("doc_id")
      val out = (arg(args, "--weight-col"), arg(args, "--shuffle-shards")) match {
        case (Some(w), None) =>
          graft.ops.Curation.samplePps(df, id, w,
            arg(args, "--step").map(_.toLong).getOrElse(
              sys.error("sample with --weight-col requires --step <n>")),
            arg(args, "--seed").getOrElse("s0"))
        case (None, Some(sh)) =>
          graft.ops.Curation.shuffleOrder(df, id, sh.toInt,
            arg(args, "--seed").getOrElse("s0"))
        case _ => sys.error("sample needs EXACTLY ONE of --weight-col (PPS) or --shuffle-shards (order)")
      }
      arg(args, "--out") match {
        case Some(o) =>
          out.write.mode("overwrite").parquet(o)
          println(s"[cli] sample: ${spark.read.parquet(o).count()} rows -> $o")
        case None => out.orderBy(col(id)).show(100, truncate = false)
      }
    case "bpe" =>
      // learned-BPE tokenizer as a lake artifact (pinned merges):
      //   cli bpe --op train --in docs.parquet --path idx [--n-merges 64]
      //   cli bpe --op refresh --in docs.parquet --path idx
      //     -> tokenize only words the cache has never seen (no retrain)
      //   cli bpe --op count --in docs.parquet --path idx [--out p]
      //     -> per-doc learned token counts served from the index
      //   cli bpe --op merges --path idx   -> show the pinned merge list
      import graft.ops.BpeIndex
      val path = arg(args, "--path").getOrElse(sys.error("bpe requires --path <indexDir>"))
      val id = arg(args, "--id").getOrElse("doc_id")
      val text = arg(args, "--text-col").getOrElse("text")
      arg(args, "--op").getOrElse("count") match {
        case "train" =>
          val (nM, nW) = BpeIndex.build(spark.read.parquet(arg(args, "--in").get),
            text, path, arg(args, "--n-merges").map(_.toInt).getOrElse(64))
          println(s"[cli] bpe train: $nM merges learned, $nW words cached -> $path")
        case "refresh" =>
          val (carried, fresh) = BpeIndex.refresh(
            spark.read.parquet(arg(args, "--in").get), text, path)
          println(s"[cli] bpe refresh: carried $carried cached words, tokenized $fresh new")
        case "count" =>
          val counts = BpeIndex.tokenCounts(
            spark.read.parquet(arg(args, "--in").get), id, text, path)
          arg(args, "--out") match {
            case Some(o) =>
              counts.write.mode("overwrite").parquet(o)
              println(s"[cli] bpe count: ${spark.read.parquet(o).count()} docs -> $o")
            case None => counts.orderBy(col(id)).show(100, truncate = false)
          }
        case "merges" =>
          spark.read.parquet(path + "/merges")
            .orderBy(col("merge_rank")).show(4096, truncate = false)
        case other => println(s"bpe --op train|refresh|count|merges (got '$other')")
      }
    case "audit" =>
      // schema drift between two parquet drops (footer-only): gate a
      // pipeline run on upstream dtype changes instead of crashing on them
      val before = arg(args, "--before").getOrElse(
        sys.error("audit requires --before <parquetDir> --after <parquetDir>"))
      val after = arg(args, "--after").getOrElse(
        sys.error("audit requires --before <parquetDir> --after <parquetDir>"))
      val d = graft.lake.SchemaAudit.diffPaths(spark, before, after)
      if (d.isEmpty) println("[cli] audit: schemas identical")
      else d.orderBy(col("change"), col("field")).show(1000, truncate = false)
    case "explain" =>
      // formatted physical plan of any registered query against a testdata
      // dir — the plan-first review loop (PushedFilters / ReadSchema /
      // broadcast / TakeOrdered) as a one-liner; delegates to
      // graft.Explain so the two entry points can't drift
      val name = arg(args, "--query").getOrElse(
        sys.error("explain requires --query <name> [--sf <dir>]"))
      graft.Explain.print(spark,
        arg(args, "--sf").getOrElse("/root/testdata/sf0.001"), Seq(name))
    case "clf" =>
      // trained quality classifier as an operational job. One-shot mode
      // (no --index): 3 signSGD rounds against the --target-lang slice,
      // then corpus-wide scoring landed as parquet (doc, n_fbuckets,
      // clf_logit, clf_prob on the 10^6 grid). Persisted mode
      // (--index <path> --op build|refresh|upsert|serve): the
      // churn-maintained [[graft.ops.ClfIndex]] lifecycle — build/
      // refresh train against --labeled-in (default: the --in corpus),
      // upsert delta-scores a drop under the PINNED model, serve reads
      // the landed score table.
      import org.apache.spark.sql.functions._
      val idCol = arg(args, "--id-col").getOrElse("doc_id")
      val textCol = arg(args, "--text-col").getOrElse("text")
      val target = arg(args, "--target-lang").getOrElse("en")
      def labelPred = col(arg(args, "--label-col").getOrElse("lang")) === target
      arg(args, "--index") match {
        case Some(idx) =>
          def corpus = spark.read.parquet(arg(args, "--in").get)
          def labeled = arg(args, "--labeled-in")
            .map(spark.read.parquet(_)).getOrElse(corpus)
          arg(args, "--op").getOrElse("serve") match {
            case "build" =>
              // --land-stream: train off a parquet-landed feature
              // stream (recoverable on executor loss) instead of
              // executor-pinned blocks; identical weights either way
              val n = graft.ops.ClfIndex.build(labeled, corpus, idCol, textCol,
                labelPred, idx, landStream = args.contains("--land-stream"))
              println(s"[cli] clf build: $n docs scored -> $idx")
            case "refresh" =>
              val (kept, signed) = graft.ops.ClfIndex.refresh(labeled, corpus,
                idCol, textCol, labelPred, idx)
              println(s"[cli] clf refresh: kept=$kept rescored=$signed" +
                (if (kept == 0) " (labeled slice churned -> retrained)" else ""))
            case "upsert" =>
              val (carried, signed) = graft.ops.ClfIndex.upsert(corpus, idCol,
                textCol, idx)
              println(s"[cli] clf upsert: carried=$carried rescored=$signed")
            case "serve" =>
              val served = graft.ops.ClfIndex.serve(spark, idx)
              arg(args, "--out") match {
                case Some(out) =>
                  served.write.mode("overwrite").parquet(out)
                  println(s"[cli] clf serve: ${spark.read.parquet(out).count()} rows -> $out")
                case None => println(s"[cli] clf serve: ${served.count()} rows")
              }
            case other => println(s"clf --op build|refresh|upsert|serve (got '$other')")
          }
        case None =>
          val docs = spark.read.parquet(arg(args, "--in").get)
          val m = graft.ops.QualityClassifier.train(docs, idCol, textCol, labelPred)
          val scored = graft.ops.QualityClassifier.score(docs, idCol, textCol, m)
          arg(args, "--out") match {
            case Some(out) =>
              scored.write.mode("overwrite").parquet(out)
              println(s"[cli] clf: model ${m.size} buckets, " +
                s"${spark.read.parquet(out).count()} docs scored -> $out")
            case None =>
              println(s"[cli] clf: model ${m.size} buckets, ${scored.count()} docs scored")
          }
      }
    case "urldedup" =>
      // canonical-URL dedup: one row per canonical key, min-id keep
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(arg(args, "--in").get)
      val idCol = arg(args, "--id-col").getOrElse("id")
      val urlCol = arg(args, "--url-col").getOrElse("url")
      val out = graft.ops.Dedup.urlCanonicalKeep(df, idCol, urlCol)
      arg(args, "--out") match {
        case Some(p) =>
          out.write.mode("overwrite").parquet(p)
          println(s"[cli] urldedup: ${spark.read.parquet(p).count()} canonical urls -> $p")
        case None =>
          val (n, total) = (out.count(), df.count())
          println(s"[cli] urldedup: $total urls -> $n canonical")
      }
    case other =>
      println(s"usage: ingest|summary|harvest|sync|compact|stats|cluster|index|repair|purge|curate|clf|urldedup|sample|snap|audit|profile|dq|fuzzy|matagg|sketch|lm|bm25|bpe|drop|semdedup|sparsesim|explain (got '$other')")
  }
}
