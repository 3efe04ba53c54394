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
  *
  * [[all]] and its typed two-result form [[both]] are the only entry
  * points: each starts its steps on the pool and returns only once every
  * step has ended, so no Spark work forked here outlives its caller.
  *
  * LOCAL PROPERTIES: a pooled thread inherits Spark's local properties
  * (job group, job tags, scheduler pool, description) only when it is
  * created, and the cached pool reuses it for later callers. Each step
  * therefore captures the CALLER's properties and sets them for the
  * body, then restores the thread's own: jobs of a pooled body carry
  * the caller's group and tags (so `cancelJobGroup` reaches them), and
  * nothing stale leaks into the next body the thread runs.
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

  private def par[T](body: => T): scala.concurrent.Future[T] = {
    val props = org.apache.spark.GraftLocalProperties.capture()
    scala.concurrent.Future(org.apache.spark.GraftLocalProperties.within(props)(body))(pool)
  }

  // unbounded on purpose: a bound that raised while a step still ran
  // would break `all`'s "no step outlives the call" rule
  private def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Start every step on the pool, wait for ALL of them, and return
    * their results in step order. When steps fail, the first failing
    * step's (in step order) error is raised with the other errors
    * attached as suppressed, and only after every step has ended: a
    * step never outlives the call, so a caller that retries (and
    * deletes what a failed attempt left) cannot race a late sibling.
    */
  def all[T](steps: Seq[() => T]): Seq[T] = {
    // every error is caught inside the step (fatal ones too), so no
    // future is left incomplete and no error arrives boxed
    val outcomes = steps
      .map(s => par(try Right(s()) catch { case e: Throwable => Left(e) }))
      .map(await(_))
    outcomes.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.collect { case Right(v) => v }
    }
  }

  /** [[all]] over two steps of different types, results in step order;
    * nest it for three (`both(a, both(b, c))`).
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all(Seq[() => Any](() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
