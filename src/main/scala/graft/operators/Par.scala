package graft.operators

/** Concurrent-job-submission helper (optimization round 19, guide §2.6
  * "overlap independent jobs"): Spark's scheduler happily runs several
  * jobs at once inside one application — actions are only sequential
  * because driver code calls them sequentially. Composite operators that
  * materialize INDEPENDENT intermediates back-to-back (an exact-truth
  * join and an SNM pass set; two tiers' connected-components loops)
  * leave most of the box idle during each other's scheduling-bound
  * phases: the measured utilization of the worst such rows is 2–25% of
  * 32 cores. Submitting the independent materializations from threads
  * lets one job's tasks back-fill executors freed by the other's tail.
  *
  * FRESH threads per call, never a shared pool: Spark's local properties
  * (job group, description — what the bench's profiler and cancellation
  * key on) propagate via InheritableThreadLocal, i.e. only at thread
  * CREATION. A reused pool thread would carry the group of whichever
  * caller first created it, mis-attributing stages and escaping
  * cancellation. Thread count here is the SECTION count (2–3), not a
  * data-scale fan-out, so creation cost is irrelevant.
  *
  * Determinism: each section is an independent, self-contained Spark
  * pipeline; concurrent submission changes scheduling order only, never
  * any section's result.
  *
  * Failure: every section's jobs carry a per-section job TAG (not a job
  * group — the group is the caller's, and the bench tracer attributes
  * stages by it). Once any section has failed, the siblings still running
  * have their jobs cancelled by tag, re-issued while they stay alive, so
  * a section that submits a further job is stopped at that one too. The
  * call returns once every thread has ended, rethrowing the first failure
  * with every other one attached via `addSuppressed`.
  */
private[graft] object Par {
  def sections[A](thunks: (() => A)*): Seq[A] = {
    require(thunks.nonEmpty, "need at least one section")
    if (thunks.size == 1) return Seq(thunks.head())
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val call = java.util.UUID.randomUUID()
    val tags = thunks.indices.map(i => s"graft-par-$call-$i")
    val results = new Array[Any](thunks.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = thunks.zipWithIndex.map { case (thunk, i) =>
      val t = new Thread(() => {
        try {
          sc.foreach(_.addJobTag(tags(i)))
          results(i) = thunk()
        } catch { case e: Throwable => errs.add(e) }
      }, s"graft-par-$i")
      t.start()
      t
    }
    while (threads.exists(_.isAlive)) {
      threads.find(_.isAlive).foreach(_.join(20))
      if (!errs.isEmpty) for (i <- threads.indices if threads(i).isAlive)
        sc.foreach(_.cancelJobsWithTag(tags(i),
          "a sibling graft.operators.Par section failed"))
    }
    if (!errs.isEmpty) {
      val first = errs.peek()
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    results.toSeq.map(_.asInstanceOf[A])
  }
}
