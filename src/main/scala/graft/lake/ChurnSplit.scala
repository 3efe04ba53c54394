package graft.lake

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The churn-split seam shared by the fingerprinted index tiers
  * ([[graft.ops.DedupIndex]] band rows, [[graft.ops.TextIndex]] stats,
  * [[graft.ops.PostingsIndex]] lengths, [[graft.ops.SimilarityIndex]]
  * inverted lists, [[graft.ops.FuzzyJoinIndex]] chunk keys): every one
  * of them maintains "rows derived from source records, refreshed on
  * churn", and they all need the SAME decomposition —
  *
  *  - `kept`: old index rows whose (key, fingerprint) is re-delivered
  *    verbatim — carried without recompute (refresh cost follows churn,
  *    never corpus size);
  *  - `fresh`: incoming records with NO verbatim row set (new keys, or
  *    fingerprint drifted) — the only rows the tier recomputes;
  *  - `others`: old index rows whose key is absent from the incoming
  *    frame — a full-corpus `refresh` DROPS them (deletion semantics),
  *    a micro-batch `upsert` CARRIES them (a batch is a delta, not a
  *    corpus).
  *
  * Lifting the three joins here keeps ten tiers from drifting on the
  * freshness contract ("unchanged rows carry verbatim; lagging costs
  * recompute, never correctness"). Non-users, deliberately:
  * [[graft.ops.BpeIndex]] (its word cache only ever GROWS — re-delivery
  * and deletion are meaningless for a vocabulary), and the lake
  * sidecars ([[BloomIndex]]/[[ZoneMapIndex]]), whose key is the
  * (file, len) physical identity joined against a manifest, not a
  * record fingerprint.
  *
  * [[land]] recombines the split and lands it through [[Staged.land]]
  * ([[graft.ops.PostingsIndex]], whose two tables swap together through
  * [[Staged.landMany]], recombines with [[observedUnion]]) — split
  * decides WHAT to rewrite, the staged swap guarantees the rewrite is
  * never torn.
  *
  * COUNTING CONTRACT: the (kept, signed) churn counters are metrics of
  * the landing write itself — an `Observation` on the kept and fresh
  * branches, the way a Delta MERGE reports its row counts. No frame is
  * persisted and no extra count job runs for them. Observed metrics
  * reach the driver asynchronously (through the listener bus), so they
  * are read after the write returns with a bounded wait of
  * [[MetricsWait]]; a missed deadline fails naming the path, and a
  * failed write raises its own error without ever waiting on them.
  */
object ChurnSplit {

  final case class Split(kept: DataFrame, fresh: DataFrame, others: DataFrame)

  /** What the landing keeps besides the kept and fresh rows: a
    * full-corpus `Refresh` drops `others` (deletion semantics), a delta
    * `Upsert` carries them.
    */
  sealed trait Mode
  case object Refresh extends Mode
  case object Upsert extends Mode

  /** Bound on the wait for a landing's observed counters after the
    * write has returned.
    */
  val MetricsWait: FiniteDuration = 60.seconds

  /** `old`: the persisted index rows, carrying `keyCol` and `fpCol`.
    * `incoming`: the source records, with `idCol` and a fingerprint
    * EXPRESSION `fp` over its columns (md5 of the text, a vector
    * digest, or the value itself when it is its own fingerprint). The
    * expression runs once in each join — fingerprints are computed,
    * compared, and shuffled digest-sized; source payloads never ride
    * the diff.
    */
  def split(old: DataFrame, keyCol: String, fpCol: String,
            incoming: DataFrame, idCol: String, fp: Column): Split = {
    val curFp = incoming.select(col(idCol).as(keyCol), fp.as(fpCol))
    val kept = old.join(curFp, Seq(keyCol, fpCol), "left_semi")
    val oldFp = old.select(col(keyCol).as("__cs_id"), col(fpCol).as("__cs_fp")).distinct()
    val fresh = incoming.join(oldFp,
      incoming(idCol) === col("__cs_id") && fp === col("__cs_fp"), "left_anti")
    val others = old.join(curFp.select(col(keyCol)), Seq(keyCol), "left_anti")
    Split(kept, fresh, others)
  }

  /** Land `split` at `path` with `freshRows` (the tier's recompute of
    * `split.fresh`) in one staged write: kept ∪ fresh, after `others`
    * in [[Upsert]] mode. Returns (kept, signed): `n` aggregated over the
    * kept and fresh branches of that write — row counts by default.
    */
  def land(spark: SparkSession, path: String, split: Split, freshRows: DataFrame,
           mode: Mode, n: Column = count(lit(1))): (Long, Long) = {
    val (rows, counts) = observedUnion(path, split.others, split.kept, freshRows, mode, n)
    Staged.land(spark, path, rows)
    counts()
  }

  /** The landing frame of [[land]] with its kept and fresh branches
    * observed, and the reader of the two counters — to be called only
    * after the write of the frame to `path` has returned.
    */
  private[graft] def observedUnion(path: String, others: DataFrame, kept: DataFrame,
                                   fresh: DataFrame, mode: Mode,
                                   n: Column): (DataFrame, () => (Long, Long)) = {
    val keptObs = Observation(); val freshObs = Observation()
    val rows = kept.observe(keptObs, n.as("n")).unionByName(fresh.observe(freshObs, n.as("n")))
    def read(o: Observation): Long =
      try Await.result(o.future, MetricsWait).getLong(0)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(s"churn counters of the landing at $path " +
            s"did not arrive within $MetricsWait of the write returning")
      }
    (mode match { case Upsert => others.unionByName(rows); case Refresh => rows },
      () => (read(keptObs), read(freshObs)))
  }
}
