package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.load.{Scratch, TripletStore}

/** The shared load half of the three composed lifecycle rows
  * (q_etl_lifecycle / q_openml_lifecycle / q_ai4life_lifecycle): two
  * extraction passes merged as versions 0 and 1 of a scratch
  * [[TripletStore]], output = the V8 current graph with `start_ms`
  * separating extended from fresh ranges and the A9 distinct-subject +
  * deprecated-range audit counts. One implementation so a fix to the
  * merge mechanics, the checkpoint-before-scratch-removal discipline, or
  * the audit-count semantics cannot silently diverge between the three
  * entry points. */
private[queries] object LifecycleMerge {

  // Logical clock (epoch seconds, UTC): load-1 extraction base, load-2
  // extraction base, load-2 merge "now" (deprecation stamp).
  val T1 = 1704067200L // 2024-01-01T00:00:00Z
  val T2 = 1706745600L // 2024-02-01T00:00:00Z
  val T3 = 1709251200L // 2024-03-01T00:00:00Z

  /** Merge `batch(1)` @T1 and `batch(2)` @T3 into a scratch store and
    * project the current graph; `extra` columns slot between `objkind`
    * and `start_ms` (the per-row provenance each lifecycle grades). */
  def twoVersionCurrentGraph(s: SparkSession, dir: String,
                             scratchPrefix: String,
                             batch: Int => DataFrame,
                             extra: Seq[Column]): DataFrame =
    // Checkpoint hygiene: the batch builders' and the ranges snapshot's
    // checkpoints are all dead once the FINAL result below materializes
    // (its own localCheckpoint is eager and deliberately NOT scope-
    // registered — it is the returned table), so the scope frees every
    // intermediate block before this graded row even returns.
    graft.operators.Checkpoints.scoped {
      Scratch.withScratch(scratchPrefix, dir) { tmp =>
        val store = new TripletStore(s, tmp.getAbsolutePath)
        // Overlap the two independent pieces of work (guide §2.6: Spark
        // happily runs concurrent jobs; these were sequential only
        // because this driver code called them sequentially): batch 2's
        // EXTRACTION (per-card parse + triple arms + disambiguation —
        // independent of the store) materializes on a helper thread
        // while merge 1 runs, so its tasks back-fill the executor
        // threads merge 1's tiny stages leave idle. The merges
        // themselves stay ordered (merge 2 is defined against the
        // post-merge-1 state). The helper wraps its OWN Checkpoints
        // scope — the extraction's internal checkpoints die there; the
        // handed-over checkpoint is freed explicitly after merge 2 (it
        // is that merge's input, dead once the delta commits).
        val b2f = scala.concurrent.Future {
          graft.operators.Checkpoints.scoped(batch(2).localCheckpoint())
        }(scala.concurrent.ExecutionContext.global)
        store.merge(batch(1), new Timestamp(T1 * 1000))
        val b2 = scala.concurrent.Await.result(
          b2f, scala.concurrent.duration.Duration.Inf)
        store.merge(b2, new Timestamp(T3 * 1000))
        graft.operators.Checkpoints.free(b2)
        val ranges = graft.operators.Checkpoints.ck(store.ranges)
        // Both audit scalars from ONE aggregate over the checkpointed
        // snapshot: `ranges` is one window over the level rows that keeps
        // each identity's latest open row plus every deprecated row, so
        // `ranges.filter(!deprecated)` IS the open set and
        // countDistinct(subject) over it equals
        // store.distinctSubjectCount, which would re-read the store from
        // parquet for a number the checkpoint already holds. The
        // null-subject compensation matches distinct().count(): a legal
        // null-subject open row counts as one subject (the graded
        // fixtures never produce one, but the helper is generic).
        val audit = ranges.agg(
          coalesce(sum(when(col("deprecated"), 1L)), lit(0L)),
          countDistinct(when(!col("deprecated"), col("subject"))),
          coalesce(max(when(!col("deprecated") && col("subject").isNull, 1L)
            .otherwise(0L)), lit(0L))).head()
        val nDeprecated = audit.getLong(0)
        val nSubjects = audit.getLong(1) + audit.getLong(2)
        ranges.filter(!col("deprecated"))
          .select(Seq(col("subject"), col("predicate"), col("obj"),
            col("objKind").as("objkind")) ++ extra ++ Seq(
            expr("unix_micros(useStart) div 1000").as("start_ms"),
            lit(nSubjects).as("n_subjects"),
            lit(nDeprecated).as("n_deprecated")): _*)
          .localCheckpoint()
      }
    }
}
