package graft.sources

/** Overlap INDEPENDENT driver-action chains (optimization guide §2.6).
  *
  * A maintained-view refresh builds one term per moved table, and each
  * term's restriction cascade blocks the driver on several tiny probe
  * jobs (a checkpointed distinct, the fused count/range aggregate, a
  * small collect — single-task jobs of 10–180 ms whose cost is almost
  * pure scheduling latency at maintenance scale). Run serially, the
  * latencies add up end-to-end while 31 of 32 cores idle; submitted from
  * a small pool, the scheduler interleaves them (jobs are only
  * sequential because the driver calls actions sequentially — §2.6).
  *
  * Results return in INPUT ORDER, so the caller's union/fold plan is
  * byte-identical to the sequential build — timing can never change
  * what a refresh publishes. Parallelism is capped (2–3 in-flight
  * builders fill the gap; more just contend), single-element and
  * empty inputs run on the calling thread, and the pool is per-call
  * (worker threads are created by the submitting thread, so Spark's
  * inheritable thread-locals — job description, job group — carry the
  * caller's labels into every builder). Exceptions propagate unwrapped
  * and the first failure cancels the remaining builders' results from
  * being awaited (they may still run to completion; they are pure
  * reads).
  *
  * Pools NEST and the cap is per call, not global: a tree view's
  * refresh overlaps its per-table term builds (`JoinTreeGap.Gap.terms`),
  * and each build's cascade overlaps its probing hops, so up to
  * parallelism² concurrent builds (each with its `localCheckpoint`
  * probe) can be in flight at once. A traced `perfbench` `view_maintain`
  * run saw 11 jobs in flight; since hops into stores small enough to
  * broadcast stop probing it sees 8, but the bound is still the product.
  * ROADMAP item 3 replaces the per-call pools with one global
  * semaphore.
  */
private[graft] object Overlap {

  def map[A, B](xs: Seq[A], parallelism: Int = 3)(f: A => B): Seq[B] = {
    if (xs.size <= 1) return xs.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, xs.size))
    try {
      val futures = xs.map { x =>
        pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(x)
        })
      }
      futures.map { fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }

  def flatMap[A, B](xs: Seq[A], parallelism: Int = 3)(f: A => Seq[B]): Seq[B] =
    map(xs, parallelism)(f).flatten
}
