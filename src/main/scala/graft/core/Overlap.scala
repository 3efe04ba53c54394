package graft.core

/** One shared daemon pool for overlapping INDEPENDENT Spark actions
  * inside a single operator/query body (optimization guide §2.6
  * "overlap independent jobs"): Spark's scheduler runs concurrent jobs
  * in one session happily — chains are only sequential when the driver
  * calls them sequentially, which leaves most executor cores idle
  * through each chain's driver-side collects and stage tails.
  *
  * Used ONLY for chains that are deterministic in isolation (decimal/
  * integer sums, seeded trainers, staged writes to disjoint paths), so
  * overlap moves the wall clock and never a result bit.
  *
  * CACHED (unbounded) pool, deliberately: callers NEST — a query body's
  * chain future calls an index build whose landMany overlaps its own
  * per-table writes — and a fixed pool whose outer futures block in
  * Await while their inner futures queue is a textbook thread-
  * starvation deadlock. Threads blocked on Spark actions are cheap
  * (the cluster's FIFO scheduler, not the thread count, bounds actual
  * parallelism — the guide's §2.6 sizing note), the pool shrinks back
  * when idle, and every thread is a daemon so the pool never blocks
  * JVM exit.
  */
object Overlap {

  lazy val pool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-overlap-${n.getAndIncrement()}")
            t.setDaemon(true); t
          }
        }))

  def par[T](body: => T): scala.concurrent.Future[T] =
    scala.concurrent.Future(body)(pool)

  def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Run two independent actions on the pool WHILE `main` runs on the
    * calling thread; returns (a, b) once all three are done, so the
    * three actions cost max() overlapped instead of sum() sequential
    * (guide §2.6). Only for actions deterministic in isolation — counts
    * of persisted frames and staged writes to disjoint paths qualify.
    *
    * Callers: [[graft.ops.FuzzyJoinIndex]] and
    * [[graft.ops.IncrementalLabels]], whose counted frames are not the
    * rows they land. Tiers that count the rows they land read the
    * counts off the write instead ([[graft.lake.ChurnSplit.land]]).
    */
  def besides[A, B](a: => A, b: => B)(main: => Unit): (A, B) = {
    val fa = par(a); val fb = par(b)
    main
    (await(fa), await(fb))
  }
}
