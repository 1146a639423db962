package graft

/** Overlap INDEPENDENT driver-side work (optimization guide §2.6:
  * "actions are only sequential because your driver code calls them
  * sequentially"). The multi-serve report queries (the ir-metrics
  * panels, the operating-point curves) construct several independent
  * family serves whose construction runs real jobs — the beam walks'
  * per-hop localCheckpoint materializations, entry-point `head`s — and
  * a sequential loop leaves most of local[32] idle during each walk's
  * stage tail. Submitting the constructions from a small pool lets the
  * next serve's jobs back-fill the executor slots the current one's
  * tail frees; results return in INPUT order so downstream unions keep
  * the declared deterministic shape, and each thunk's frames/jobs are
  * unchanged — only the wall-clock overlap is new.
  *
  * Callers must keep constructions that mutate SHARED session state
  * (a temp view two thunks both read, catalog table writes two thunks
  * both touch) on the calling thread — the CLAUDE.md mutable-temp-view
  * rule. A construction that writes a view name PRIVATE to itself
  * (written exactly once per invocation — the `viewSfx` discipline of
  * the IVF-family serves, r16-opt) is pool-safe: the view is resolved
  * at its own `spark.sql` analysis time and nothing else re-points it.
  * Everything submitted here must otherwise touch only thread-confined
  * frames, build-once `ensure*` accessors ([[Standing]] — one lock per
  * artifact, so two serves' cold builds of DIFFERENT artifacts overlap
  * too) and plan-keyed scoped caches (concurrent same-plan `cache()`
  * shares one CacheManager entry).
  */
object Par {
  def run[A](thunks: Seq[() => A], maxThreads: Int = 4): Seq[A] = {
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        thunks.size.min(maxThreads))
      try {
        val futs = thunks.map(t =>
          pool.submit(new java.util.concurrent.Callable[A] {
            override def call(): A = t()
          }))
        // propagate the FIRST failure as its original exception so the
        // bench error column records the real class, not the wrapper
        try futs.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      } finally pool.shutdown()
    }
  }
}
