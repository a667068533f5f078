package graft.operators

/** Overlap INDEPENDENT driver actions (guide §2.6 — "overlap independent
  * jobs"): the CDC/IVM lifecycle batches are orchestration-bound, a chain
  * of many small jobs (side appends, key-index appends, contract guards)
  * none of which is over a second — run serially, each job's fixed
  * schedule/launch overhead adds up and most cores sit idle through all
  * of it (r18 verdict What's-wrong #3: 32 cores measured SLOWER than 8 on
  * every lifecycle slot). Actions with no data- or ordering-dependence on
  * each other — appends to DIFFERENT subtable directories, guards over
  * different sides — submit from sibling threads so the scheduler
  * back-fills idle cores with the next job's tasks.
  *
  * Blocks until EVERY thunk finishes (success or failure) and only then
  * rethrows the first failure, with every other failure attached to it as
  * suppressed (one bad input can fail several thunks for different
  * reasons): no write is still in flight when the caller's crash handling
  * runs. Failure atomicity is unchanged from the serial form — all these
  * writes land under an uncommitted `batch=N` that the ledger hides and
  * the next ingest's cleanupOrphans deletes; which subset of them
  * completed before an abort was never part of the contract (a serial
  * chain aborts with an arbitrary prefix landed).
  *
  * The table copy uses it too: [[graft.pipeline.TableTransformer]]'s
  * convert stage writes the Parquet file and computes the column
  * statistics from the same typed frame at the same time.
  */
private[graft] object Par {
  def run(thunks: Seq[() => Unit]): Unit = {
    val live = thunks.filter(_ != null)
    if (live.size <= 1) { live.foreach(_()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // plain threads, not a shared pool: a handful per batch, and Spark's
    // job-group/description properties are InheritableThreadLocal — child
    // threads created HERE inherit the caller's, which a pooled thread
    // created elsewhere would not
    val ts = live.map(t => new Thread(() =>
      try t() catch { case e: Throwable => errs.add(e) }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }

  def run(thunks: (() => Unit)*)(implicit d: DummyImplicit): Unit =
    run(thunks.toSeq)
}
