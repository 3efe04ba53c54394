package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** The seeded input generator. Everything the engine receives is made
  * here from `--seed`; each generator also keeps the model of the state
  * the engine should reach, which the output checks compare against.
  */
object Gen {

  /** Independent random streams of one seed. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Source texts: (source shard, text) rows of a synthetic document corpus. */
  final class Corpus(val docs: IndexedSeq[(String, String)]) {
    val vocab: IndexedSeq[String] = docs.iterator.flatMap(_._2.split(' ')).toSeq.distinct.sorted.toIndexedSeq
    def pick(r: SplittableRandom): (String, String) = docs(r.nextInt(docs.size))
    /** Replace about `frac` of the words by vocabulary words. */
    def perturb(text: String, frac: Double, r: SplittableRandom): String =
      text.split(' ').map(w => if (r.nextDouble() < frac) vocab(r.nextInt(vocab.size)) else w)
        .mkString(" ")
  }

  object Corpus {
    def load(path: String): Corpus = {
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path))
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map { l =>
            val tab = l.indexOf('\t')
            (l.substring(0, tab), l.substring(tab + 1))
          }.toIndexedSeq
        new Corpus(lines)
      } finally in.close()
    }
  }

  // -------------------------------------------------------------------
  // Procurement drops (the PLACE feed): URL natural ids, `updated`
  // strings, and the extraction rows of the documents attached to them.
  // -------------------------------------------------------------------

  val Statuses: IndexedSeq[String] = IndexedSeq("PUB", "EV", "ADJ", "RES", "ANUL", "PRE")

  /** One tender row as delivered upstream. */
  final case class Tender(id: String, updated: String, title: String, status: String,
                          amount: String, contractor: String)

  /** One landed version in the model: its sequence number (the `_id`
    * order), the row it was delivered as, and whether a later version
    * superseded it.
    */
  final case class Version(seq: Long, row: Tender, obsolete: Boolean)

  /** A company-extraction row (the JSONL input of the enrichment). */
  final case class Extraction(procurementId: String, docName: String,
                              single: Option[Seq[String]], ute: Option[Seq[Seq[String]]])

  def ntpId(seq: Long): String = f"ntp$seq%08d"

  val CompanyWords: IndexedSeq[String] = IndexedSeq("Construcciones", "Servicios", "Ingenieria",
    "Obras", "Suministros", "Consultores", "Gestion", "Infraestructuras", "Tecnologias",
    "Mantenimiento", "Proyectos", "Instalaciones", "Transportes", "Limpiezas", "Sistemas")
  val Surnames: IndexedSeq[String] = IndexedSeq("Garcia", "Fernandez", "Gonzalez", "Rodriguez",
    "Lopez", "Martinez", "Sanchez", "Perez", "Gomez", "Martin", "Jimenez", "Ruiz", "Hernandez",
    "Diaz", "Moreno", "Alvarez", "Munoz", "Romero", "Alonso", "Gutierrez", "Navarro", "Torres",
    "Dominguez", "Vazquez", "Ramos", "Gil", "Ramirez", "Serrano", "Blanco", "Molina")
  val Suffixes: IndexedSeq[String] = IndexedSeq("SL", "SA", "SLU", "SCOOP")

  def companyName(r: SplittableRandom): String =
    s"${CompanyWords(r.nextInt(CompanyWords.size))} ${Surnames(r.nextInt(Surnames.size))} " +
      s"${Surnames(r.nextInt(Surnames.size))} ${Suffixes(r.nextInt(Suffixes.size))}"

  final class Procurement(seed: Long, corpus: Corpus) {
    private val r = rng(seed, 1)
    /** natural id -> sequence number of its active version */
    val active = mutable.LinkedHashMap[String, Long]()
    /** sequence number -> landed version */
    val versions = mutable.HashMap[Long, Version]()
    var nextSeq = 0L
    private val used = mutable.HashSet[String]()

    def tombstones: Long = versions.size - active.size.toLong

    private def stamp(month: Int): String = {
      val y = 2020 + month / 12
      val m = month % 12 + 1
      f"$y%04d-$m%02d-${1 + r.nextInt(28)}%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
    }

    private def fields(id: String, updated: String): Tender = {
      val words = corpus.pick(r)._2.split(' ')
      Tender(id, updated, words.take(4 + r.nextInt(6)).mkString(" "),
        Statuses(r.nextInt(Statuses.size)), f"${r.nextInt(5000000) / 100.0}%.2f", companyName(r))
    }

    /** The drop of `month`: new tenders, new versions of active tenders
      * (a later `updated`), and re-deliveries of active versions (the same
      * `updated`, changed fields). Each natural id appears once. Updates
      * the model the way the engine should.
      */
    def drop(month: Int, nNew: Int, nVer: Int, nRe: Int): Seq[Tender] = {
      val fresh = (0 until nNew).map { _ =>
        var id = ""
        while (id.isEmpty || used(id))
          id = s"https://contrataciondelestado.es/licitacion/${1000000 + r.nextInt(9000000)}"
        used += id
        fields(id, stamp(month))
      }
      val olds = pickDistinct(active.keys.toIndexedSeq, nVer + nRe)
      val newVersions = olds.take(nVer).map(id => fields(id, stamp(month)))
      val redeliveries = olds.drop(nVer).map { id =>
        val cur = versions(active(id)).row
        fields(id, cur.updated)
      }
      // ids are issued to the rows without an overlapping active version,
      // contiguous in natural-key order
      (fresh ++ newVersions).sortBy(_.id).foreach { t =>
        active.get(t.id).foreach(s => versions(s) = versions(s).copy(obsolete = true))
        versions(nextSeq) = Version(nextSeq, t, obsolete = false)
        active(t.id) = nextSeq
        nextSeq += 1
      }
      redeliveries.foreach { t =>
        val s = active(t.id)
        versions(s) = versions(s).copy(row = t)
      }
      val all = fresh ++ newVersions ++ redeliveries
      val order = all.map(_ => r.nextLong())
      all.zip(order).sortBy(_._2).map(_._1)
    }

    private def pickDistinct[T](from: IndexedSeq[T], n: Int): IndexedSeq[T] = {
      val a = from.toArray[Any]
      val k = math.min(n, a.length)
      for (i <- 0 until k) {
        val j = i + r.nextInt(a.length - i)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(k).toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }

    /** Extraction rows for documents of any landed version (obsolete ones
      * included: the enrichment must follow them to the active version).
      * Returns the rows and, per active `_id`, the document names the
      * enrichment should attach.
      */
    def extractions(month: Int, n: Int): (Seq[Extraction], Map[String, Set[String]]) = {
      val seqs = versions.keys.toIndexedSeq.sorted
      val rows = (0 until n).map { k =>
        val seq = seqs(r.nextInt(seqs.size))
        val doc = s"m${month}_doc$k.pdf"
        r.nextInt(10) match {
          case 0 => Extraction(ntpId(seq), doc, None, None)
          case 1 | 2 => Extraction(ntpId(seq), doc, None,
            Some(Seq(Seq(companyName(r), companyName(r)))))
          case _ => Extraction(ntpId(seq), doc, Some(Seq(companyName(r))), None)
        }
      }
      val want = rows.filter(e => e.single.isDefined || e.ute.isDefined)
        .groupBy(e => ntpId(active(versions(e.procurementId.drop(3).toLong).row.id)))
        .map { case (k, es) => k -> es.map(_.docName).toSet }
      (rows, want)
    }

    /** Tender lookup keys: `hits` landed `_id`s and `misses` never issued. */
    def lookupKeys(r: SplittableRandom, hits: Int, misses: Int): Seq[String] =
      ((0 until hits).map(_ => ntpId(r.nextLong(nextSeq))) ++
        (0 until misses).map(_ => ntpId(nextSeq + 1000 + r.nextInt(1000000)))).distinct
  }

  // -------------------------------------------------------------------
  // Document drops for the snapshot lake: updates, re-deliveries and
  // inserts of (key, text, grp) rows.
  // -------------------------------------------------------------------

  final case class Doc(text: String, grp: Long)

  final class Documents(seed: Long, corpus: Corpus) {
    private val r = rng(seed, 2)
    /** history(v - 1) is the lake state at snapshot version v */
    var history: Vector[Map[String, Doc]] = Vector.empty
    private var nextKey = 0

    def latest: Map[String, Doc] = history.lastOption.getOrElse(Map.empty)
    def key(i: Int): String = f"d$i%07d"

    private def doc(): Doc = {
      val (src, text) = corpus.pick(r)
      Doc(text, src.drop(3).toLong % 8)
    }

    /** One drop: updated texts of existing keys, unchanged re-deliveries,
      * and new keys. Appends the resulting version to the history.
      */
    def drop(nUpd: Int, nRe: Int, nIns: Int): Seq[(String, Doc)] = {
      val cur = latest
      val keys = cur.keys.toIndexedSeq.sorted
      val chosen = mutable.LinkedHashSet[String]()
      while (chosen.size < math.min(nUpd + nRe, keys.size)) chosen += keys(r.nextInt(keys.size))
      val (upd, re) = chosen.toIndexedSeq.splitAt(nUpd)
      val rows =
        upd.map(k => k -> Doc(corpus.perturb(cur(k).text, 0.2, r), cur(k).grp)) ++
          re.map(k => k -> cur(k)) ++
          (0 until nIns).map { _ => nextKey += 1; key(nextKey) -> doc() }
      history :+= (cur ++ rows)
      rows
    }

    /** Lookup keys against version `v`: hits present there, misses absent. */
    def lookupKeys(r: SplittableRandom, v: Int, hits: Int, misses: Int): Seq[String] = {
      val at = history(v - 1)
      val present = at.keys.toIndexedSeq.sorted
      val absent = (0 until misses).map { i =>
        // keys inserted after `v` are misses at `v`, as are never-used keys
        val k = key(1 + r.nextInt(nextKey + 2000))
        if (at.contains(k)) key(nextKey + 5000 + i) else k
      }
      (0 until hits).map(_ => present(r.nextInt(present.size))).distinct ++ absent.distinct
    }
  }

  // -------------------------------------------------------------------
  // Curate batches: crawled documents with near-duplicates and evaluation
  // leaks, plus contractor names with typing variants.
  // -------------------------------------------------------------------

  final case class CurateDoc(docId: Long, text: String, source: String)

  def curateBatch(seed: Long, b: Int, corpus: Corpus, nDocs: Int): Seq[CurateDoc] = {
    val r = rng(seed, 1000L + b)
    val out = mutable.ArrayBuffer[CurateDoc]()
    for (i <- 0 until nDocs) {
      val id = b * 1000000L + i
      val (src, text) =
        if (out.nonEmpty && r.nextInt(100) < 20) {
          // a near-duplicate (or, on an evaluation slot, a leak) of an
          // earlier document of the batch
          val o = out(r.nextInt(out.size))
          (o.source, corpus.perturb(o.text, 0.05, r))
        } else corpus.pick(r)
      out += CurateDoc(id, text, src)
    }
    out.toSeq
  }

  def names(seed: Long, b: Int, n: Int): Seq[(Long, String)] = {
    val r = rng(seed, 2000L + b)
    val base = mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val name =
        if (base.nonEmpty && r.nextInt(100) < 35) typo(base(r.nextInt(base.size)), 1 + r.nextInt(2), r)
        else { val s = companyName(r); base += s; s }
      (b * 1000000L + i, name)
    }
  }

  private def typo(s: String, edits: Int, r: SplittableRandom): String =
    (0 until edits).foldLeft(s) { (t, _) =>
      val i = r.nextInt(t.length)
      val c = ('a' + r.nextInt(26)).toChar
      r.nextInt(3) match {
        case 0 => t.substring(0, i) + c + t.substring(i + 1)
        case 1 => t.substring(0, i) + c + t.substring(i)
        case _ => t.substring(0, i) + t.substring(i + 1)
      }
    }

  /** Levenshtein distance, the reference for the fuzzy-join check. */
  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  /** All id pairs (a < b) within `maxDist`, by brute force. */
  def fuzzyPairs(names: Seq[(Long, String)], maxDist: Int): Set[(Long, Long, Long)] = {
    val a = names.toIndexedSeq
    (for {
      i <- a.indices.iterator
      j <- (i + 1 until a.size).iterator
      if math.abs(a(i)._2.length - a(j)._2.length) <= maxDist
      d = levenshtein(a(i)._2, a(j)._2)
      if d <= maxDist
    } yield {
      val (x, y) = if (a(i)._1 < a(j)._1) (a(i)._1, a(j)._1) else (a(j)._1, a(i)._1)
      (x, y, d.toLong)
    }).toSet
  }
}
