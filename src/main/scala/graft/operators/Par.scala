package graft.operators

/** Concurrent submission of INDEPENDENT eager sub-pipelines (optimization
  * guide §2.6 "Overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are sequential only
  * because driver code calls them sequentially. Queries composed of several
  * independent tiers/lanes (each a chain of localCheckpoint jobs over small
  * frames) spend most of their wall-clock in per-job fixed cost and stage
  * tails; submitting the tiers from separate driver threads lets one tier's
  * straggler tail back-fill with the next tier's tasks. FIFO scheduling (the
  * default) gives exactly the back-fill behavior; results are unchanged —
  * each sub-pipeline's plan and output are identical, only the submission
  * interleaves.
  *
  * Rules for call sites: thunks must be INDEPENDENT (no thunk reads a frame
  * another thunk materializes) and every SHARED parent frame must be eagerly
  * materialized (localCheckpoint) BEFORE the fork — a lazily shared plan
  * would recompute per thread (the repo's standing shared-frame rule, now
  * load-bearing for thread safety too). */
private[graft] object Par {

  /** 2-3 jobs in flight is plenty (guide §2.6): enough to back-fill a stage
    * tail, not so many that they fight for executors on a real cluster.
    * Fan-outs larger than the cap queue on the pool in input order. */
  private val MaxInFlight = 3

  /** Measurement knob: GRAFT_SEQ=1 runs every Par call site sequentially
    * (same thunks, same order — results identical by construction), so a
    * single binary can interleave overlapped/sequential bench samples on
    * a drifting host without recompiles between them. */
  private val forceSeq = sys.env.get("GRAFT_SEQ").contains("1")

  /** Run the thunks concurrently (at most MaxInFlight at once), return
    * results in input order. The first failure cancels the remaining
    * futures and shuts the pool down hard — sibling Spark jobs must not
    * keep running after the query has already failed (they would consume
    * the cluster and pollute the next query's timing) — then rethrows its
    * original cause (so Bench/Verify error capture sees the real exception,
    * not an ExecutionException wrapper). */
  def run[A](thunks: Seq[() => A]): Seq[A] = {
    if (forceSeq || thunks.lengthCompare(1) <= 0) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(thunks.size, MaxInFlight))
      try {
        val futures = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[A] {
            override def call(): A = t()
          })
        }
        futures.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              futures.foreach(_.cancel(true))
              pool.shutdownNow()
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }
  }

  /** Two-thunk convenience. */
  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run(Seq(() => a().asInstanceOf[AnyRef], () => b().asInstanceOf[AnyRef]))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
