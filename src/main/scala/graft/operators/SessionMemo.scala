package graft.operators

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Session-scoped memoization for expensive per-(session, dir) derived
  * tables. One rule decides what may be memoized: the value is a
  * DataFrame derived only from the dir's immutable input tables, and
  * every query reads it as-is. Two memos pass it — the decoded media
  * signatures ([[graft.queries.MediaDedup.corpusSignatures]]) and the
  * sampled co-purchase edges ([[graft.queries.Graph.coPurchaseEdges]]).
  * The output of the engine's own write path (a merged store, an
  * ingested index) is never memoized: a query that grades that path
  * builds its own state.
  *
  * Keyed on the SparkSession OBJECT — identity, not
  * `System.identityHashCode`, whose values are reusable after GC and let
  * a NEW session collide with a dead one's hash and be handed an
  * artifact bound to the stopped session. Entries of STOPPED sessions
  * are pruned on every access, so retention is bounded by the next memo
  * touch instead of process lifetime (weak keys cannot do this: the
  * cached DataFrames strongly reference their session, which would pin
  * a weak key forever). `valid` re-checks a hit before handing it out
  * (a swept checkpoint), and callers should include
  * `artifact.sparkSession eq s`-style identity in it.
  *
  * Build-once is enforced PER KEY, not per memo: each (session, key)
  * slot holds a promise its first claimant completes, and the memo-wide
  * monitor guards only the map bookkeeping — never the multi-second
  * Spark build itself. The earlier shape held the monitor across
  * `compute`, so a cache HIT for one dir blocked behind an unrelated
  * dir's build (and each memo serialized every session in the JVM
  * through one lock); now a hit returns as soon as its own promise is
  * complete. A failed build removes its slot and
  * propagates to its owner; concurrent waiters of the failed slot
  * retry the build themselves (the pre-latch behavior, serialized per
  * caller). Re-entrant `getOrCompute` from inside `compute` is
  * supported for OTHER keys (they no longer share a lock) and
  * unsupported for the SAME key (a build awaiting its own promise
  * would deadlock — it used to silently double-compute). */
final class SessionMemo[V] {

  private val entries =
    new java.util.IdentityHashMap[SparkSession, scala.collection.mutable.Map[String, Promise[V]]]()

  def getOrCompute(s: SparkSession, key: String)(valid: V => Boolean)
                  (compute: => V): V = {
    while (true) {
      var owner = false
      val slot = synchronized {
        val it = entries.entrySet().iterator()
        while (it.hasNext) {
          if (it.next().getKey.sparkContext.isStopped) it.remove()
        }
        val m = entries.computeIfAbsent(s,
          _ => scala.collection.mutable.Map.empty[String, Promise[V]])
        m.get(key) match {
          case Some(p) if !p.future.value.exists(_.isFailure) => p
          case _ =>
            val p = Promise[V]()
            m.update(key, p)
            owner = true
            p
        }
      }
      if (owner) {
        SessionMemo.buildCount.incrementAndGet()
        val v =
          try compute
          catch {
            case e: Throwable =>
              // release the slot FIRST so retrying waiters/new callers
              // claim a fresh one, then fail the promise they awaited
              synchronized {
                Option(entries.get(s))
                  .foreach(m => if (m.get(key).contains(slot)) m.remove(key))
              }
              slot.failure(e)
              throw e
          }
        slot.success(v)
        return v
      } else {
        // await OUTSIDE any lock: a hit (completed promise) returns
        // immediately regardless of other keys' in-flight builds
        Await.ready(slot.future, Duration.Inf).value.get match {
          case scala.util.Success(v) if valid(v) =>
            SessionMemo.hitCount.incrementAndGet()
            return v
          case scala.util.Success(_) =>
            // stale artifact (swept checkpoint): drop the
            // slot — unless someone already replaced it — and loop
            synchronized {
              Option(entries.get(s))
                .foreach(m => if (m.get(key).contains(slot)) m.remove(key))
            }
          case scala.util.Failure(_) => () // owner removed the slot; loop
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object SessionMemo {

  /** Process-wide memo-traffic counters — the bench reads per-query
    * deltas so its full artifact can say which queries BUILT a
    * session-shared memo (their first-iteration time is memo-inclusive)
    * and which merely rode one. Monotone and approximate under
    * concurrency; the bench loop is single-threaded. */
  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val hitCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shared validity predicate for memoized localCheckpoint artifacts:
    * the checkpoint's blocks must still be persisted — a harness that
    * sweeps ALL persistent RDDs between queries (graft.Verify does;
    * graft.Bench's per-query sweep spares only `graft.memo.*` names)
    * kills them, and the memo must then rebuild, never hand out a dead
    * checkpoint whose blocks were the only copy of its data. */
  private[graft] def checkpointLive(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => true
    }

  /** Name a memoized checkpoint's RDD `graft.memo.*` so storage-hygiene
    * sweeps can tell a deliberately session-lived memo from a finished
    * query's dead blocks; returns the DataFrame for chaining. */
  private[graft] def nameCheckpoint(df: org.apache.spark.sql.DataFrame,
                                    name: String): org.apache.spark.sql.DataFrame = {
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.setName(name)
      case _ => ()
    }
    df
  }
}
