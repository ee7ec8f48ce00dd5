package graft.operators

import org.apache.spark.sql.DataFrame

/** Block-storage hygiene for `localCheckpoint`ed DataFrames on
  * LONG-LIVED sessions. A local checkpoint eagerly persists the
  * underlying RDD (it is not registered with the CacheManager, so
  * `Dataset.unpersist` can't see it), and the blocks live until the
  * session ends — fine inside a one-shot query, an unbounded leak in a
  * production pipeline that calls index ingests/sweeps or iterative
  * operators thousands of times per session: at 100 TB every batch pins
  * megabytes of executor storage memory forever, and storage-evicted
  * executors start recomputing or OOMing long before the job is done.
  *
  * Reclamation is THREAD-CONFINED ([[scoped]] + [[ck]]), never a
  * session-global persistent-RDD delta: the repo explicitly supports
  * concurrent mutators on one SparkSession (TextOpsCapSpec pins two
  * overlapping incrementalDedup runs), and a global before/after diff
  * would unpersist a concurrent caller's in-flight checkpoint — whose
  * blocks are the ONLY copy of its data. */
private[graft] object Checkpoints {

  /** Unpersist the block storage behind a `localCheckpoint`ed
    * DataFrame. The blocks are freed through the `LogicalRDD` the
    * checkpoint left as the plan root; safe no-op on any other plan
    * shape (and on an already-freed checkpoint). The freed table must
    * never be read again — local-checkpoint blocks are the ONLY copy
    * of its data. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  private val active = new ThreadLocal[java.util.ArrayList[DataFrame]]

  /** `df.localCheckpoint()` that additionally registers the checkpoint
    * with the enclosing [[scoped]] block on THIS thread, if one is
    * active — a plain localCheckpoint otherwise. Shared helpers
    * (BandedLsh, ConnectedComponents) route through this so their
    * internal materializations are reclaimed when a mutator wraps them,
    * and behave exactly as before when a query calls them unscoped. */
  def ck(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    val s = active.get()
    if (s != null) s.add(c)
    c
  }

  /** Run `f`; on exit — success or exception — free every [[ck]]
    * checkpoint registered during it on this thread. For mutators whose
    * results are durably written (the index stores' parquet batch dirs)
    * and whose return value is a plain scalar: every intermediate
    * checkpoint is dead the moment the write action completes. NOT for
    * methods returning a lazy plan over data checkpointed inside.
    * Scopes nest (the inner block frees only its own registrations);
    * concurrent threads are independent. */
  def scoped[T](f: => T): T = {
    val prev = active.get()
    val mine = new java.util.ArrayList[DataFrame]
    active.set(mine)
    try f
    finally {
      if (prev == null) active.remove() else active.set(prev)
      mine.forEach(free(_))
    }
  }
}
