package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the hot-chunk guard's DROP ORDER (the r14 advice finding): a
  * string with more hot chunk keys than its droppable budget must shed
  * the MOST-POPULATED ones — population bounds per-key pair volume, so
  * keeping the hottest key while dropping a lighter one misses the
  * bound the guard exists for. Lives in package graft.ops to reach the
  * private[ops] chunk emitter directly.
  */
class FuzzyGuardSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  // length-12 strings, d=1, extra=1 -> arity 3, chunks [1-4][5-8][9-12],
  // droppable budget 1 per string.
  //  - group X (60): "AAAA" + "BBBB" + unique tail  (both slots hot)
  //  - group Y (140): unique head + "BBBB" + unique tail (slot 1 hot)
  // populations: AAAA@0 = 60, BBBB@1 = 200, cap 32 -> both hot. An X
  // string can drop only ONE: it must be BBBB (pop 200 > 60), so the
  // 200-string key stops being served entirely.
  private val xs = (0 until 60).map(i => (i.toLong, "AAAABBBB" + f"$i%04d"))
  private val ys = (0 until 140).map(i => (1000L + i, f"Y$i%03d" + "BBBB" + f"$i%04d"))
  private val df = (xs ++ ys).toDF("id", "s")

  test("guard drops the most-populated hot key first, not the lowest chunk index") {
    val p = FuzzyJoin.prep(df, "id", "s")
    val (keys, hot) = FuzzyJoin.chunkKeysGuarded(
      p, FuzzyJoin.chunkLens(p, 1), d = 1, extra = 1, hotChunkCap = 32L, pinnedHot = None)
    val hotSet = hot.select("__i", "__key").as[(Int, String)].collect().toSet
    assert(hotSet == Set((0, "AAAA"), (1, "BBBB")), s"fixture: both keys hot: $hotSet")
    val served = keys.groupBy(col("__i"), col("__key"))
      .agg(count(lit(1)).as("n")).as[(Int, String, Long)].collect()
      .map { case (i, k, n) => (i, k) -> n }.toMap
    // every string dropped BBBB (its hottest hot key); AAAA (pop 60,
    // under the X strings' remaining budget of zero) is still served
    assert(!served.contains((1, "BBBB")),
      s"BBBB must be dropped by every string (hottest first): ${served.filter(_._1._2 == "BBBB")}")
    assert(served.get((0, "AAAA")).contains(60L),
      s"AAAA must still be served by all 60 X strings: ${served.get((0, "AAAA"))}")
  }

  test("pop-ordered drop stays lossless vs brute force") {
    def lev(sa: String, sb: String): Int = {
      val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to sa.length; j <- 1 to sb.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
      m(sa.length)(sb.length)
    }
    val strs = (xs ++ ys).map { case (i, s) => (i, s) } ++
      Seq((5000L, xs.head._2.dropRight(1) + "!"), // planted distance-1 partners
          (5001L, ys.head._2.dropRight(1) + "!"))
    val brute = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      d = lev(sa, sb) if d <= 1
    } yield (ia, ib, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture must plant at least one pair")
    val got = FuzzyJoin.editDistanceSelfJoin(strs.toDF("id", "s"), "id", "s", 1,
        extraChunks = 1, hotChunkCap = 32L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("driftCombos: exactly the ≤d-indel-realizable patterns") {
    // d=1, k=3: all-zero, suffix ±1 runs, full ±1 runs — 7 patterns
    val got = FuzzyJoin.driftCombos(3, 1).map(_.toList).toSet
    val want = Set(List(0, 0, 0), List(0, 0, 1), List(0, 0, -1),
      List(0, 1, 1), List(0, -1, -1), List(1, 1, 1), List(-1, -1, -1))
    assert(got == want, s"got $got")
    // the indel-cost invariant holds for every emitted combo at d=2
    FuzzyJoin.driftCombos(3, 2).foreach { c =>
      val cost = math.abs(c.head) +
        c.sliding(2).map { case Seq(x, y) => math.abs(y - x) }.sum
      assert(cost <= 2, s"combo $c costs $cost")
    }
  }

  test("complement-key escalation: brute parity on a templated corpus, volume collapses") {
    def lev(sa: String, sb: String): Int = {
      val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to sa.length; j <- 1 to sb.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
      m(sa.length)(sb.length)
    }
    // the ScaleSmoke shape: shared 5-char template + 8 digits whose ×37
    // construction admits no accidental distance-1 pairs; planted
    // mutations of every kind (substitution / deletion / insertion at
    // varied positions) so every drift-combo arm is exercised
    val n = 400
    val base = (0 until n).map(i => (i.toLong, f"Name#${(i * 37) % 100000000}%08d"))
    val planted = Seq(
      (9000L, base(0)._2.updated(7, 'X')),            // substitution mid
      (9001L, base(1)._2.updated(12, 'X')),           // substitution last
      (9002L, base(2)._2.substring(0, 6) + base(2)._2.substring(7)),  // deletion
      (9003L, base(3)._2 + "9"),                      // insertion at end
      (9004L, base(4)._2.substring(0, 9) + "Q" + base(4)._2.substring(9)), // insertion mid
      (9005L, base(5)._2.tail))                       // deletion first char
    val strs = base ++ planted
    val brute = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      dd = lev(sa, sb) if dd <= 1
    } yield (ia, ib, dd.toLong)).toSet
    assert(brute.size >= 6, s"fixture must plant pairs: ${brute.size}")
    // budget 1 forces the volume gate ON for this corpus
    val got = FuzzyJoin.editDistanceSelfJoin(strs.toDF("id", "s"), "id", "s", 1,
        extraChunks = 1, hotChunkCap = 4096L, candBudgetPerString = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"escalated join must stay lossless: " +
      s"missing=${brute -- got} extra=${got -- brute}")
    // the point of the escalation: complement keys carry the digit spans,
    // so candidate volume collapses vs the guarded singleton pass
    val p = FuzzyJoin.prep(strs.toDF("id", "s"), "id", "s")
    val classic = FuzzyJoin.candidates(p, p, 1, 1, 4096L, 0L).count()
    val esc = FuzzyJoin.escalatedCandidates(p, p, 1, 4,
      FuzzyJoin.chunkLens(p, 1).filter(_ >= 4)).count()
    assert(esc * 5 <= classic,
      s"complement keys must collapse the candidate volume: esc=$esc classic=$classic")
  }

  test("complement-key escalation: two-table lookup parity incl. mixed lengths") {
    def lev(sa: String, sb: String): Int = {
      val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to sa.length; j <- 1 to sb.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
      m(sa.length)(sb.length)
    }
    // master mixes sub-chunkable lengths with ones below n1=4 (len 2-3:
    // classic singletons) and short-bucket strings (len 1)
    val master = (0 until 200).map(i => (i.toLong, f"Ref#${(i * 37) % 1000000}%06d")) ++
      Seq((500L, "ab"), (501L, "abc"), (502L, "x"))
    val probes = Seq(
      (1L, f"Ref#${37 % 1000000}%06d"),            // exact hit
      (2L, f"Ref#${(2 * 37) % 1000000}%06d".dropRight(1) + "Z"), // dist 1
      (3L, "abz"), (4L, "a"), (5L, "zzzzzzzzzz"))
    val brute = (for {
      (ip, sp) <- probes; (ir, sr) <- master
      dd = lev(sp, sr) if dd <= 1
    } yield (ip, ir, dd.toLong)).toSet
    val got = FuzzyJoin.editDistanceJoin(probes.toDF("id", "s"), "id", "s",
        master.toDF("id", "s"), "id", "s", 1, candBudgetPerString = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("persisted index pins populations: refresh drops against the build-time pop order") {
    val root = java.nio.file.Files.createTempDirectory("fuzzy-pop-idx").toString
    FuzzyJoinIndex.build(df, "id", "s", root, maxDist = 1, extraChunks = 1,
      hotChunkCap = 32L)
    val hot = spark.read.parquet(root + "/hot")
    assert(hot.columns.contains("pop"), "hot table must persist populations")
    val pops = hot.select("key", "pop").as[(String, Long)].collect().toMap
    assert(pops.get("BBBB").contains(200L) && pops.get("AAAA").contains(60L), s"$pops")
    // a refresh batch re-delivering an X string must still drop BBBB
    // (the pinned pop order), keeping emissions comparable across drops
    val changed = Seq((0L, "AAAABBBB9999")).toDF("id", "s")
      .unionByName(df.filter(col("id") =!= 0L))
    FuzzyJoinIndex.refresh(changed, "id", "s", root)
    val keys = spark.read.parquet(root + "/keys")
    assert(keys.filter(col("key") === "BBBB").count() == 0L,
      "refresh must keep dropping the hottest pinned key")
    assert(keys.filter(col("id") === 0L && col("key") === "AAAA").count() == 1L,
      "the re-chunked string still serves its lighter hot key")
  }

  test("driver-side hot list: same hot set and served keys as the corpus-computed guard") {
    val p = FuzzyJoin.prep(df, "id", "s")
    val pre = FuzzyJoin.prePass(p, FuzzyJoin.lengthHistogram(p), d = 1, extra = 1,
      hotChunkCap = 32L)
    assert(pre.lens == Seq(12) && pre.n == 200L, s"fixture: $pre")
    // the guard disabled (cap 0) gives the plain emissions; the corpus's
    // hot keys are their populations over the cap
    val (plain, _) = FuzzyJoin.chunkKeysGuarded(p, pre.lens, 1, 1, 0L, None)
    val pops = plain.groupBy(col("__la"), col("__i"), col("__key")).count()
      .as[(Int, Int, String, Long)].collect()
    val corpusHot = pops.filter(_._4 > 32L).map { case (la, i, k, n) =>
      FuzzyJoin.HotKey(la, i, k, n) }.toSet
    assert(pre.hot.toSet == corpusHot && corpusHot.size == 2, s"${pre.hot} vs $corpusHot")
    assert(pre.vol == pops.map(r => r._4 * r._4).sum, "Σ pop² of the unguarded keys")
    def rows(k: org.apache.spark.sql.DataFrame) =
      k.as[(Long, Int, Int, String)].collect().toSet
    val (fromList, hotDf) = FuzzyJoin.chunkKeysGuarded(p, pre.lens, 1, 1, 32L, Some(pre.hot))
    val (fromCorpus, _) = FuzzyJoin.chunkKeysGuarded(p, pre.lens, 1, 1, 32L, None)
    assert(hotDf.select("__i", "__key").as[(Int, String)].collect().toSet ==
      Set((0, "AAAA"), (1, "BBBB")))
    // every string sheds BBBB, its hottest hot key, and nothing else
    val want = rows(plain.filter(!(col("__i") === 1 && col("__key") === "BBBB")))
    assert(rows(fromList) == want, "driver-side list serves the guarded keys")
    assert(rows(fromCorpus) == want, "pinnedHot = None measures the same list")
    // an empty list is the plain emissions, with no guard in the plan
    val (unhot, _) = FuzzyJoin.chunkKeysGuarded(p, pre.lens, 1, 1, 32L, Some(Nil))
    assert(!unhot.queryExecution.analyzed.toString.contains("row_number"))
    assert(rows(unhot) == rows(plain))
  }

  test("unguarded Σ pop² within budget decides no escalation without a third action") {
    val sc = spark.sparkContext
    val p = FuzzyJoin.prep(df, "id", "s")
    val pre = FuzzyJoin.prePass(p, FuzzyJoin.lengthHistogram(p), 1, 1, 32L)
    val (guarded, _) = FuzzyJoin.chunkKeysGuarded(p, pre.lens, 1, 1, 32L, Some(pre.hot))
    assert(pre.hot.nonEmpty, "fixture: the bound alone could not decide an over-budget case")
    // the smallest budget whose limit (budget·|A|) the unguarded bound meets
    val atBound = (pre.vol + pre.n - 1) / pre.n
    val (within, wWithin) = graft.core.Work.measure(sc, "gate-within")(
      FuzzyJoin.escalates(pre, guarded, 1, 1, atBound))
    assert(!within && wWithin.jobs == 0, s"decided from the bound: ${wWithin.jobs} jobs")
    // one under it, the hot list forces the guarded measurement; the
    // served keys (BBBB shed) are then within budget after all
    val (over, wOver) = graft.core.Work.measure(sc, "gate-over")(
      FuzzyJoin.escalates(pre, guarded, 1, 1, atBound - 1))
    assert(!over && wOver.jobs > 0, s"measured the guarded keys: ${wOver.jobs} jobs")
    assert(FuzzyJoin.escalates(pre, guarded, 1, 1, 1L), "budget 1 escalates")
  }

  test("planning cost: the self-join's jobs before its final action") {
    val sc = spark.sparkContext
    // default cap 4096: no key is hot, so the bound decides the gate
    val (_, w) = graft.core.Work.measure(sc, "fuzzy-plan")(
      FuzzyJoin.editDistanceSelfJoin(df, "id", "s", 1))
    // prep's localCheckpoint: 1 job. The length histogram: 2 (its
    // shuffle, its collect). The unguarded key stats: 4 (the chunk spec
    // frame's broadcast, the key-population shuffle, the global
    // aggregate's shuffle, its head). A new planning action fails here.
    assert(w.jobs == 7, s"planning jobs: ${w.jobs}")
  }
}
