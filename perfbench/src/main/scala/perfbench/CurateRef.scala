package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

/** A driver-side model of which training documents one curate batch keeps.
  * It restates, in plain Scala, the definitions the corpus pipeline body
  * is built from: whitespace tokens of the lower-cased text; distinct word
  * 3-shingles; an 8-value MinHash signature (per seed s, the least hex
  * md5 of "s|" + shingle, the engine's documented bit-reproducible form)
  * cut into 4 bands of 2; candidate pairs sharing a band; components
  * labelled by their least id, of which only that id is kept;
  * contamination as at least `minShared` distinct shingles shared with
  * the evaluation documents; and the quality score's arithmetic.
  */
object CurateRef {
  val Bands = 4
  val RowsPerBand = 2

  def tokens(text: String): IndexedSeq[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator.filter(_.nonEmpty).toIndexedSeq

  def shingles(toks: IndexedSeq[String]): Set[String] =
    toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  def signature(sh: Set[String]): IndexedSeq[String] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until Bands * RowsPerBand).map { s =>
      sh.iterator.map { x =>
        md.reset()
        hex(md.digest(s"$s|$x".getBytes(StandardCharsets.UTF_8)))
      }.min
    }
  }

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](2 * d.length)
    for (i <- d.indices) {
      out(2 * i) = Character.forDigit((d(i) >> 4) & 0xf, 16)
      out(2 * i + 1) = Character.forDigit(d(i) & 0xf, 16)
    }
    new String(out)
  }

  /** Documents the near-duplicate step removes: every member of a
    * candidate component but its least id.
    */
  def nearDupRemoved(sh: Map[Long, Set[String]]): Set[Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    val buckets = mutable.HashMap[(Int, Seq[String]), mutable.ArrayBuffer[Long]]()
    for ((d, s) <- sh if s.nonEmpty) {
      val sig = signature(s)
      for (b <- 0 until Bands)
        buckets.getOrElseUpdate((b, sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand)),
          mutable.ArrayBuffer()) += d
    }
    for (ds <- buckets.values if ds.size > 1; d <- ds) {
      parent.getOrElseUpdate(d, d)
      val (ra, rb) = (find(ds.head), find(d))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.filter(d => find(d) != d).toSet
  }

  def quality(text: String, toks: IndexedSeq[String], stopwords: Set[String]): Double = {
    val ntok = toks.size.toDouble
    val lenSat = math.min(ntok / 100.0, 1.0)
    val stopRatio = if (ntok > 0) toks.count(stopwords).toDouble / ntok else 0.0
    val alpha = text.toLowerCase(java.util.Locale.ROOT).count(c => c >= 'a' && c <= 'z').toDouble
    val alphaRatio = if (text.nonEmpty) alpha / text.length.toDouble else 0.0
    0.4 * lenSat + 0.3 * math.min(stopRatio * 5.0, 1.0) + 0.3 * alphaRatio
  }

  /** What the model says about one batch. */
  final case class Kept(kept: Set[Long], nearDup: Set[Long], contaminated: Set[Long])

  /** Training documents are those whose id is not a multiple of 10; the
    * others are the evaluation set.
    */
  def kept(docs: Seq[Gen.CurateDoc], minShared: Int, minQuality: Double,
           stopwords: Set[String]): Kept = {
    val toks = docs.map(d => d.docId -> tokens(d.text)).toMap
    val sh = toks.map { case (d, t) => d -> shingles(t) }
    val (evalIds, trainIds) = docs.map(_.docId).partition(_ % 10 == 0)
    val evalSh = evalIds.flatMap(sh).toSet
    val train = sh.filter { case (d, _) => d % 10 != 0 }
    val nearDup = nearDupRemoved(train)
    val contaminated = train.collect { case (d, s) if s.count(evalSh) >= minShared => d }.toSet
    val byId = docs.map(d => d.docId -> d.text).toMap
    val keep = trainIds.filter(d => !nearDup(d) && !contaminated(d) &&
      quality(byId(d), toks(d), stopwords) >= minQuality).toSet
    Kept(keep, nearDup, contaminated)
  }
}
