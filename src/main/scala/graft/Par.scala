package graft

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6,
  * "overlap independent jobs"): Spark's scheduler happily runs several
  * jobs in one application — actions are only sequential because the
  * driver calls them sequentially. The lifecycle queries and
  * maintenance operators are long chains of SMALL jobs over DISJOINT
  * state (different shards, different bundles, different ledgers);
  * run serially, each job's driver-side planning/commit window leaves
  * the executor pool idle, and at sf-scale that idle time IS most of
  * the wall clock. Submitting independent branches from a small pool
  * back-fills those windows; at cluster scale the same structure
  * back-fills straggler tails, which is the guide's stated reason the
  * pattern exists.
  *
  * Results are byte-identical to the sequential form: each thunk's
  * work is unchanged and lands in its own paths/DataFrames; only the
  * wall clock moves. Spark job groups/descriptions are thread-local
  * (inherited at thread creation), so concurrent thunks keep their
  * labels; SparkSession is thread-safe for concurrent job submission
  * (the scheduler's FIFO mode gives earlier submissions priority and
  * later ones the leftovers — the back-fill behaviour we want).
  *
  * Deliberately a BOUNDED pool (default 4): 2-3 jobs in flight is
  * enough to fill a tail; unbounded fan-out would make concurrent
  * branches fight for executors and memory. Exceptions propagate:
  * the first failure in input order is rethrown, but only after
  * every sibling thunk has finished, so no branch is still writing
  * when the caller sees the failure.
  */
object Par {

  /** Run `thunks` concurrently on a bounded pool; return results in
    * input order. Degenerate sizes (0/1) run inline. */
  def run[A](thunks: Seq[() => A], maxThreads: Int = 4): Seq[A] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxThreads, thunks.length))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          override def call(): A = t()
        })
      }
      val done = futs.map(f => scala.util.Try(f.get())) // wait for all
      done.map {
        case scala.util.Failure(
            e: java.util.concurrent.ExecutionException) => throw e.getCause
        case t => t.get
      }
    } finally pool.shutdown()
  }

  /** Two independent branches, typed. */
  def join2[A, B](a: => A, b: => B): (A, B) = {
    val r = run[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Three independent branches, typed. */
  def join3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = run[Any](Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
