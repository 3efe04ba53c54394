package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.enrich.Companies
import graft.lake.{BloomIndex, LakeTable, MaterializedAgg, SnapshotLake}
import graft.ops.{Dedup, FuzzyJoin, PostingsIndex, Relevance, TextAnalysis}
import graft.pipeline.{DropCycle, IngestJob}
import graft.versions.Versions

/** Input sizes. `Scale.Full` is what the benchmark runs; the specs use
  * `Scale.Tiny`. The sizes and the churn mix are chosen, not taken from
  * the real feed; the README's "Traffic mix" section says which metrics
  * each proportion drives.
  */
final case class Scale(placeBase: Int, placeNew: Int, placeVer: Int, placeRe: Int,
                       extractions: Int, docsBase: Int, docsUpd: Int, docsRe: Int, docsIns: Int,
                       curateDocs: Int, curateNames: Int)

object Scale {
  val Full = Scale(placeBase = 2000, placeNew = 200, placeVer = 100, placeRe = 60,
    extractions = 250, docsBase = 1500, docsUpd = 100, docsRe = 60, docsIns = 100,
    curateDocs = 1000, curateNames = 500)
  val Tiny = Scale(placeBase = 60, placeNew = 10, placeVer = 5, placeRe = 5,
    extractions = 10, docsBase = 50, docsUpd = 5, docsRe = 5, docsIns = 5,
    curateDocs = 80, curateNames = 40)
}

/** What a workload gives the measuring loop. Units run one at a time on one
  * thread: `prepare` makes unit i's inputs (untimed), `run` is the timed
  * unit and returns its kind, `check` verifies its outputs (untimed).
  */
trait Workload {
  /** Untimed units run inside the set-up, after `setup`. */
  def warmups: Int = 3
  def setup(): Unit
  def prepare(i: Int): Unit = ()
  def run(i: Int): String
  def check(i: Int): Unit
  /** Checks after the last unit (untimed). */
  def finish(): Unit = ()
  /** Bytes the workload keeps on disk, taken after the first timed unit. */
  def storedBytes(): Long
  /** Bytes of unit i's generated inputs. */
  def inputBytes(i: Int): Long = 0L
  /** Per-unit ratios for the traced run, by metric name. */
  val ratios: mutable.Map[Int, Map[String, Double]] = mutable.Map()
  /** Digest of the outputs the checks saw, equal across runs at one seed. */
  def outputDigest: String = ""
  /** Digest of every input generated so far. */
  val digest: java.security.MessageDigest = java.security.MessageDigest.getInstance("SHA-256")
  protected def note(s: String): Unit = digest.update(s.getBytes(StandardCharsets.UTF_8))
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Workload {
  def expect(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(du).sum
}

import Workload._

/** The lakes of the monthly runbook under one root: the partitioned
  * procurement lake and the snapshot document lake with its sidecars.
  */
final class Lakes(spark: SparkSession, val root: String) {
  val place = new LakeTable(spark, s"$root/lakes/place", "_id", IngestJob.LakePartitionCols,
    nBuckets = 4)
  val docs = new SnapshotLake(spark, s"$root/lakes/docs", "_id")
  val spec: MaterializedAgg.Spec =
    MaterializedAgg.Spec(Seq("grp"), sums = Seq("chars" -> length(col("text")).cast("long")))
  val summaryPath = s"$root/lakes/docs.summary"
  val postingsPath = s"$root/lakes/docs.bm25idx"
  val conf: DropCycle.Config = DropCycle.Config(
    textCol = Some("text"),
    bandIdxPath = Some(s"$root/lakes/docs.bandidx"),
    postingsPath = Some(postingsPath),
    summary = Some((spec, summaryPath)),
    hll = Some((Seq("grp"), "_id", s"$root/lakes/docs.hll")),
    topk = Some((Nil, "grp", 8, s"$root/lakes/docs.topk")),
    lmPath = Some(s"$root/lakes/docs.lm"))
  val codes: Map[String, String] =
    Seq("id", "updated", "title", "status", "amount", "contractor").map(c => c -> c).toMap

  def bytes(): Long = du(new File(s"$root/lakes"))
}

/** The monthly runbook: ingest a procurement drop, enrich its extraction
  * rows, and run the document drop through every maintained artifact.
  */
class MonthlyDrop(spark: SparkSession, spans: Spans, seed: Long, corpus: Gen.Corpus,
                  work: String, scale: Scale) extends Workload {
  import spark.implicits._

  val lakes = new Lakes(spark, work)
  val place = new Gen.Procurement(seed, corpus)
  val docs = new Gen.Documents(seed, corpus)
  private val wantEnrich = mutable.Map[Int, Map[String, Set[String]]]()
  private val reports = mutable.Map[Int, Map[String, (Long, Long)]]()
  private val inBytes = mutable.Map[Int, Long]()
  private val enriched = mutable.Map[Int, Map[String, Set[String]]]()

  private def in(i: Int, what: String) = s"$work/in/$what/m=$i"

  /** No untimed month after the base landing: a month costs seconds of
    * fixed Spark overhead, and a run's time budget leaves room for the
    * base and one timed month. The base landing warms most code paths.
    */
  override def warmups: Int = 0

  /** Unit i lands month i + 1. */
  override def inputBytes(i: Int): Long = inBytes.getOrElse(i + 1, 0L)

  /** Month 0 is the base landing; unit i is month i + 1. */
  private def generate(month: Int): Unit = {
    val tenders =
      if (month == 0) place.drop(0, scale.placeBase, 0, 0)
      else place.drop(month, scale.placeNew, scale.placeVer, scale.placeRe)
    val (ext, want) = place.extractions(month, if (month == 0) 0 else scale.extractions)
    val docRows =
      if (month == 0) docs.drop(0, 0, scale.docsBase)
      else docs.drop(scale.docsUpd, scale.docsRe, scale.docsIns)
    tenders.foreach(t => note(t.toString))
    ext.foreach(e => note(e.toString))
    docRows.foreach(d => note(d.toString))
    tenders.toDF().write.parquet(in(month, "place"))
    val jsonl = new File(in(month, "extract.jsonl"))
    jsonl.getParentFile.mkdirs()
    Files.write(jsonl.toPath, ext.map(json).mkString("\n").getBytes(StandardCharsets.UTF_8))
    docRows.map { case (k, d) => (k, d.text, d.grp) }.toDF("_id", "text", "grp")
      .write.parquet(in(month, "docs"))
    wantEnrich(month) = want
    inBytes(month) = Seq("place", "extract.jsonl", "docs").map(w => du(new File(in(month, w)))).sum
  }

  private def json(e: Gen.Extraction): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val fields = Seq(s""""procurement_id":"${e.procurementId}"""", s""""doc_name":"${e.docName}"""") ++
      e.single.map(s => s""""SINGLE_COMPANY":${arr(s)}""") ++
      e.ute.map(u => s""""UTE":${u.map(arr).mkString("[", ",", "]")}""")
    fields.mkString("{", ",", "}")
  }

  /** One month through the runbook. */
  private def month(m: Int): Unit = {
    spans("pipeline.IngestJob") {
      IngestJob.run(spark, lakes.place, spark.read.parquet(in(m, "place")), lakes.codes,
        "id", "updated", 0)
    }
    if (m > 0) enriched(m) = spans("enrich.Companies") {
      val state = lakes.place.read
      val resolved = Versions.resolveChains(
        state.filter(col("obsolete_version") === true).select("_id", "updated_to"),
        "_id", "updated_to")
      val records = state.filter(col("obsolete_version").isNull).select("_id")
      Companies.enrich(records, "_id", Companies.readJsonl(spark, in(m, "extract.jsonl")),
        resolved, "_id")
        .filter(col("empresas_en_docs").isNotNull)
        .select(col("_id"), map_keys(col("empresas_en_docs")))
        .as[(String, Seq[String])].collect().map { case (k, v) => k -> v.toSet }.toMap
    }
    reports(m) = spans("pipeline.DropCycle") {
      DropCycle.run(lakes.docs, spark.read.parquet(in(m, "docs")), lakes.conf)
    }
  }

  private def checkMonth(m: Int): Unit = {
    val counts = lakes.place.read.groupBy(col("obsolete_version").isNull.as("live")).count()
      .as[(Boolean, Long)].collect().toMap
    expect(counts.getOrElse(true, 0L) == place.active.size,
      s"month $m: ${counts.getOrElse(true, 0L)} live tenders, expected ${place.active.size}")
    expect(counts.getOrElse(false, 0L) == place.tombstones,
      s"month $m: ${counts.getOrElse(false, 0L)} superseded tenders, expected ${place.tombstones}")
    if (m > 0) expect(enriched(m) == wantEnrich(m),
      s"month $m: enrichment attached ${enriched(m).size} records, expected ${wantEnrich(m).size}")
    val live = lakes.docs.read.count()
    expect(live == docs.latest.size, s"month $m: $live live documents, expected ${docs.latest.size}")
    expect(reports(m)("lake")._2 == docs.history.size,
      s"month $m: snapshot version ${reports(m)("lake")._2}, expected ${docs.history.size}")
    // the unit's ratio: refreshed / (carried + refreshed) over the
    // churn-gated tiers of the cycle's report
    val tiers = reports(m).filter { case (k, _) => k != "lake" }.values
    val total = tiers.map { case (c, r) => c + r }.sum
    if (total > 0) ratios(m - 1) = ratios.getOrElse(m - 1, Map.empty) +
      ("pipeline.DropCycle.refresh_frac" -> tiers.map(_._2).sum.toDouble / total)
  }

  def setup(): Unit = {
    generate(0)
    month(0)
    checkMonth(0)
  }

  override def prepare(i: Int): Unit = generate(i + 1)
  def run(i: Int): String = { month(i + 1); "drop" }
  def check(i: Int): Unit = checkMonth(i + 1)
  def storedBytes(): Long = lakes.bytes()

  /** Lands month m untimed (the serving workload's set-up). */
  def landMonth(m: Int): Unit = { generate(m); month(m); checkMonth(m) }

  /** The top 10 of a (key, score) frame, by score then key. */
  def top10(df: DataFrame): Seq[(String, Double)] =
    df.orderBy(col(df.columns(1)).desc, col(df.columns(0)).asc).limit(10)
      .as[(String, Double)].collect().toSeq

  /** The artifacts `DropCycle` maintains answer as the lake does, after
    * the last month: the served summary equals a from-scratch aggregate,
    * a BM25 query over the postings ranks as a scan does, and a bloom
    * lookup of hit and miss keys returns the model's rows.
    */
  override def finish(): Unit = {
    val served = MaterializedAgg.serve(spark, lakes.summaryPath, lakes.spec)
      .select(col("grp"), col("n"), col("chars")).as[(Long, Long, Long)].collect().toSeq.sorted
    val scratch = lakes.docs.read.groupBy(col("grp"))
      .agg(count(lit(1)), sum(length(col("text")).cast("long")))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    expect(served == scratch, s"served summary $served differs from a scan $scratch")
    val r = Gen.rng(seed, 5)
    val live = docs.latest.values.toIndexedSeq.sortBy(_.text)
    val words = live(r.nextInt(live.size)).text.split(' ')
    val q = Seq.fill(3)(words(r.nextInt(words.size))).distinct
    val ranked = top10(PostingsIndex.bm25(spark, lakes.postingsPath, q))
    expect(ranked.nonEmpty && MonthlyDrop.sameRanking(ranked,
        top10(Relevance.bm25(lakes.docs.read, "_id", "text", q))),
      s"bm25 ${q.mkString(" ")}: the postings' top 10 $ranked differs from a scan")
    val keys = docs.lookupKeys(r, docs.history.size, 4, 2)
    val want = keys.flatMap(k => docs.latest.get(k).map(d => (k, d.text, d.grp))).sorted
    val found = BloomIndex.lookupSnapshot(lakes.docs, "_id", keys, None)._1
      .select(col("_id"), col("text"), col("grp")).as[(String, String, Long)].collect().toSeq
    expect(found.sorted == want, s"bloom lookup: ${found.size} rows, expected ${want.size}")
  }
}

object MonthlyDrop {
  /** Equal keys in equal order, scores equal up to rounding. */
  def sameRanking(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean =
    a.map(_._1) == b.map(_._1) && a.zip(b).forall { case ((_, x), (_, y)) =>
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    }
}

/** Reads on the lakes the runbook leaves behind: a seeded round-robin of
  * five read types, no writes.
  */
final class LakeServe(spark: SparkSession, spans: Spans, seed: Long, corpus: Gen.Corpus,
                      work: String, scale: Scale) extends Workload {
  import spark.implicits._

  private val drops = new MonthlyDrop(spark, spans, seed, corpus, work, scale)
  private def lakes = drops.lakes
  private val r = Gen.rng(seed, 3)
  val kinds: IndexedSeq[String] = IndexedSeq("lookup", "travel", "tender", "summary", "bm25")
  private var round: IndexedSeq[String] = IndexedSeq.empty
  private val plan = mutable.Map[Int, (String, Any)]()
  private val got = mutable.Map[Int, Any]()
  private var queries: IndexedSeq[Seq[String]] = IndexedSeq.empty
  private var bm25Want: Map[Seq[String], Seq[(String, Double)]] = Map.empty

  /** Two rounds, so every read type runs twice before timing. */
  override def warmups: Int = 2 * kinds.size

  def setup(): Unit = {
    drops.setup()
    drops.landMonth(1)
    lakes.place.refreshBloomIndex()
    // the term queries the bm25 reads draw from, with their expected top
    // 10 from a tokenize-per-query scan of the lake
    val qr = Gen.rng(seed, 4)
    queries = (0 until 6).map(_ => Seq.fill(3)(corpus.vocab(qr.nextInt(corpus.vocab.size))).distinct)
    bm25Want = queries.map(q => q -> drops.top10(Relevance.bm25(lakes.docs.read, "_id", "text", q)))
      .toMap
  }

  override def prepare(i: Int): Unit = {
    if (i % kinds.size == 0) {
      val a = kinds.toArray
      for (k <- a.indices.reverse) { val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t }
      round = a.toIndexedSeq
    }
    val kind = round(i % kinds.size)
    val latest = drops.docs.history.size
    val arg: Any = kind match {
      case "lookup" => (latest, drops.docs.lookupKeys(r, latest, 4, 2))
      case "travel" =>
        val v = 1 + r.nextInt(latest - 1)
        (v, drops.docs.lookupKeys(r, v, 4, 2))
      case "tender" => drops.place.lookupKeys(r, 4, 2)
      case "summary" => ()
      case "bm25" => queries(r.nextInt(queries.size))
    }
    note(s"$kind $arg")
    plan(i) = (kind, arg)
  }

  def run(i: Int): String = {
    val (kind, arg) = plan(i)
    got(i) = kind match {
      case "lookup" | "travel" =>
        val (v, keys) = arg.asInstanceOf[(Int, Seq[String])]
        spans("lake.BloomIndex") {
          val (df, opened) = BloomIndex.lookupSnapshot(lakes.docs, "_id", keys,
            if (kind == "travel") Some(v.toLong) else None)
          (df.select(col("_id"), col("text"), col("grp")).as[(String, String, Long)]
            .collect().toSeq, opened)
        }
      case "tender" =>
        spans("lake.LakeTable") {
          lakes.place.lookupKeys(arg.asInstanceOf[Seq[String]])._1
            .select(col("_id"), col("id"), col("status"), col("obsolete_version").isNotNull)
            .as[(String, String, String, Boolean)].collect().toSeq
        }
      case "summary" =>
        spans("lake.MaterializedAgg") {
          MaterializedAgg.serve(spark, lakes.summaryPath, lakes.spec)
            .select(col("grp"), col("n"), col("chars")).as[(Long, Long, Long)].collect().toSeq
        }
      case "bm25" =>
        spans("ops.PostingsIndex") {
          drops.top10(PostingsIndex.bm25(spark, lakes.postingsPath, arg.asInstanceOf[Seq[String]]))
        }
    }
    kind
  }

  private def wantSummary: Seq[(Long, Long, Long)] =
    drops.docs.latest.values.groupBy(_.grp).map { case (g, ds) =>
      (g, ds.size.toLong, ds.map(_.text.length.toLong).sum)
    }.toSeq.sorted

  def check(i: Int): Unit = {
    val (kind, arg) = plan(i)
    kind match {
      case "lookup" | "travel" =>
        val (v, keys) = arg.asInstanceOf[(Int, Seq[String])]
        val at = drops.docs.history(v - 1)
        val want = keys.flatMap(k => at.get(k).map(d => (k, d.text, d.grp))).sorted
        val (rows, opened) = got(i).asInstanceOf[(Seq[(String, String, Long)], Int)]
        expect(rows.sorted == want, s"$kind at v$v: ${rows.size} rows, expected ${want.size}")
        val files = lakes.docs.readAt(v.toLong).inputFiles.length
        ratios(i) = Map(Report.FilesPerLookup -> opened.toDouble / files)
      case "tender" =>
        val want = arg.asInstanceOf[Seq[String]].flatMap { k =>
          // a superseded version is a pointer record: key and id, no fields
          drops.place.versions.get(k.drop(3).toLong).map(v =>
            (k, v.row.id, if (v.obsolete) null else v.row.status, v.obsolete))
        }.sorted
        val rows = got(i).asInstanceOf[Seq[(String, String, String, Boolean)]].sorted
        expect(rows == want, s"tender lookup: ${rows.diff(want)} instead of ${want.diff(rows)}")
      case "summary" =>
        val rows = got(i).asInstanceOf[Seq[(Long, Long, Long)]].sorted
        expect(rows == wantSummary, s"summary: $rows, expected $wantSummary")
      case "bm25" =>
        val q = arg.asInstanceOf[Seq[String]]
        expect(MonthlyDrop.sameRanking(got(i).asInstanceOf[Seq[(String, Double)]], bm25Want(q)),
          s"bm25 ${q.mkString(" ")}: top 10 differs from a scan")
    }
    got.remove(i)
  }

  override def finish(): Unit = drops.finish()

  def storedBytes(): Long = lakes.bytes()
}

/** Seeded batches through the corpus pipeline body (near-dup keep,
  * decontamination, quality gate, sequence packing) and a fuzzy self-join
  * of contractor names.
  */
final class CorpusCurate(spark: SparkSession, spans: Spans, seed: Long, corpus: Gen.Corpus,
                         work: String, scale: Scale) extends Workload {
  import spark.implicits._

  private val tokens = mutable.Map[Int, Map[Long, Long]]()
  private val wantKept = mutable.Map[Int, CurateRef.Kept]()
  private val wantPairs = mutable.Map[Int, Set[(Long, Long, Long)]]()
  private val outputs = mutable.Map[Int, (Long, Long, Long)]()

  private def in(b: Int, what: String) = s"$work/in/$what/b=$b"
  private def out(b: Int, what: String) = s"$work/out/$what/b=$b"

  def setup(): Unit = ()

  override def prepare(b: Int): Unit = {
    val docs = Gen.curateBatch(seed, b, corpus, scale.curateDocs)
    val names = Gen.names(seed, b, scale.curateNames)
    docs.foreach(d => note(d.toString))
    names.foreach(n => note(n.toString))
    docs.toDF("doc_id", "text", "source").write.parquet(in(b, "docs"))
    names.toDF("id", "name").write.parquet(in(b, "names"))
    tokens(b) = docs.map(d => d.docId -> d.text.split("\\s+").count(_.nonEmpty).toLong).toMap
    wantKept(b) = CurateRef.kept(docs, CorpusCurate.MinShared, CorpusCurate.MinQuality,
      TextAnalysis.stopwords("en").toSet)
    wantPairs(b) = Gen.fuzzyPairs(names, 2)
  }

  def run(b: Int): String = {
    val docs = spark.read.parquet(in(b, "docs"))
    val (trainSh, comp, contam) = spans("ops.Dedup") {
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val trainSh = train
        .select(col("doc_id").as("doc"), Dedup.shingles(col("text")).as("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val comp = Dedup.connectedComponents(Dedup.minhashCandidatesFromShingles(trainSh))
      val contam = Dedup.contaminatedFromShingles(trainSh,
          docs.filter(col("doc_id") % 10 === 0).select(Dedup.shingles(col("text")).as("sh")),
          minShared = CorpusCurate.MinShared)
        .select(col("doc").as("doc_id"))
      (trainSh, comp, contam)
    }
    spans("ops.TextAnalysis") {
      val kept = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("text"), col("source"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        .join(comp, col("doc_id") === col("node"), "left_outer")
        .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
        .join(contam, Seq("doc_id"), "left_anti")
        .filter(TextAnalysis.qualityScoreT(col("__toks"), col("text")) >= CorpusCurate.MinQuality)
      TextAnalysis.packSequences(kept, "source", "doc_id", "text", budget = 512)
        .write.parquet(out(b, "packed"))
    }
    trainSh.unpersist()
    spans("ops.FuzzyJoin") {
      FuzzyJoin.editDistanceSelfJoin(spark.read.parquet(in(b, "names")), "id", "name", maxDist = 2)
        .write.parquet(out(b, "pairs"))
    }
    "batch"
  }

  /** (packed rows, their digest, fuzzy pairs) of a landed batch. */
  private def summary(b: Int): (Long, Long, Long) = {
    val packed = spark.read.parquet(out(b, "packed"))
    val r = packed.agg(count(lit(1)), bit_xor(xxhash64(packed.columns.sorted.map(col): _*)))
      .collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      spark.read.parquet(out(b, "pairs")).count())
  }

  def check(b: Int): Unit = {
    val packed = spark.read.parquet(out(b, "packed")).select(col("doc_id"), col("n_tokens"))
      .as[(Long, Long)].collect()
    val want = tokens(b)
    val model = wantKept(b)
    val got = packed.map(_._1).toSet
    expect(got == model.kept,
      s"batch $b: ${packed.length} packed rows, the model keeps ${model.kept.size}; " +
        s"${(got -- model.kept).count(model.nearDup)} near-duplicates and " +
        s"${(got -- model.kept).count(model.contaminated)} contaminated documents kept, " +
        s"${(model.kept -- got).size} kept documents missing")
    expect(packed.length == got.size && packed.forall { case (d, n) => want.get(d).contains(n) },
      s"batch $b: a document is packed twice or has a wrong token count")
    val pairs = spark.read.parquet(out(b, "pairs")).select(col("a"), col("b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    expect(pairs == wantPairs(b),
      s"batch $b: ${pairs.size} fuzzy pairs, expected ${wantPairs(b).size} by brute force")
    outputs(b) = summary(b)
    tokens.remove(b)
    wantKept.remove(b)
  }

  /** Two warm-up batches: the first batch in a JVM costs about twice a
    * steady one, and the second is still above a steady one.
    */
  override def warmups: Int = 2

  override def outputDigest: String =
    outputs.toSeq.sorted.map { case (b, (n, x, p)) => s"$b:$n:$x:$p" }.mkString(",")

  def storedBytes(): Long = du(new File(s"$work/out"))
}

object CorpusCurate {
  /** Shared shingles that make a training document contaminated. */
  val MinShared = 8
  /** Least quality score a kept document has. */
  val MinQuality = 0.5
}
