package graft.load

import java.nio.file.Files
import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Union}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The shape of one MERGE and of compaction's base build: the delta is
  * one projection of the checkpointed join, and every row count a write
  * needs is observed on a checkpoint that runs anyway — no union, no
  * aggregate action of its own. Plus the edge merges (empty batches, the
  * first merge) and the null-field delta. */
class MergeShapeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def batch(rows: Seq[(String, String, String)], time: String): DataFrame =
    rows.toDF("subject", "predicate", "obj")
      .withColumn("objKind", lit("literal"))
      .withColumn("datatype", lit(""))
      .withColumn("extractionMethod", lit("parser"))
      .withColumn("confidence", lit(1.0))
      .withColumn("extractionTime", lit(ts(time)))

  /** The optimized plans of every action `f` runs on this session. */
  private def actionPlans(f: => Unit): Seq[LogicalPlan] = {
    val events = new LinkedBlockingQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        events.put(qe.optimizedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // events arrive asynchronously but in order: once a sentinel action's
    // event arrives, every earlier action's event has arrived too
    def drain(): Seq[LogicalPlan] = {
      val tag = UUID.randomUUID().toString
      spark.range(1).select(lit(tag)).collect()
      val seen = ArrayBuffer.empty[LogicalPlan]
      while (!seen.lastOption.exists(_.toString.contains(tag)))
        seen += Option(events.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("no listener event within 60 s"))
      seen.dropRight(1).toSeq
    }
    spark.listenerManager.register(listener)
    try { drain(); f; drain() }
    finally spark.listenerManager.unregister(listener)
  }

  private def nodes(p: LogicalPlan): Seq[LogicalPlan] = p.collectWithSubqueries { case n => n }

  /** The merge's join checkpoint: the only materialized table holding
    * both the stored side's `useStart` and the batch's `extractionTime`. */
  private def readsJoinCheckpoint(p: LogicalPlan): Boolean = nodes(p).exists {
    case r: LogicalRDD =>
      val names = r.output.map(_.name).toSet
      names("useStart") && names("extractionTime")
    case _ => false
  }

  test("a merge writes one projection of its join and counts on the checkpoint") {
    val dir = Files.createTempDirectory("merge_shape").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0)
    store.merge(batch(Seq(("m1", "name", "alpha"), ("m1", "license", "mit"),
      ("m2", "name", "beta")), "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))

    var stats: TripletStore.MergeStats = null
    // m1's name extends, its license deprecates, gamma is fresh; m2 untouched
    val plans = actionPlans {
      stats = store.merge(batch(Seq(("m1", "name", "alpha"), ("m1", "tag", "x"),
        ("m3", "name", "gamma")), "2024-02-01 00:00:00"), ts("2024-03-01 00:00:00"))
    }
    assert(stats == TripletStore.MergeStats(nNew = 2, nExtended = 1, nDeprecated = 1))

    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(!nodes(p).exists(_.isInstanceOf[Union]), s"a merge action plans a union:\n$p")
      val aggregates = nodes(p).exists(_.isInstanceOf[Aggregate])
      assert(!(aggregates && readsJoinCheckpoint(p)),
        s"an aggregate action reads the join checkpoint:\n$p")
    }
    assert(plans.exists(readsJoinCheckpoint), "the delta write reads the join checkpoint")

    // the stats are exactly the per-kind rows of the committed delta
    val v = store.currentVersion
    val committed = spark.read.parquet(s"$dir/v=$v")
    val before = store.reconstruct(v - 1, openOnly = true)
      .select("tripletHash", "infoHash")
    val live = committed.filter(!col("deprecated"))
    val extended = live.join(before, Seq("tripletHash", "infoHash"), "left_semi").count()
    assert(stats == TripletStore.MergeStats(
      nNew = live.count() - extended, nExtended = extended,
      nDeprecated = committed.filter(col("deprecated")).count()))
  }

  test("compaction builds its base without a counting action") {
    val dir = Files.createTempDirectory("compact_shape").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0)
    Seq("2024-01-01", "2024-02-01", "2024-03-01").zipWithIndex.foreach { case (d, i) =>
      store.merge(batch(Seq(("m1", "name", s"n$i"), ("m2", "name", "beta")),
        s"$d 00:00:00"), ts(s"$d 00:00:00"))
    }
    val before = store.currentTriples.collect().map(_.toString).sorted.toSeq
    val plans = actionPlans {
      store.compact(keep = 2)
      store.compact(olderThan = ts("2024-02-15 00:00:00"))
    }
    assert(plans.nonEmpty)
    plans.foreach(p =>
      assert(!nodes(p).exists(_.isInstanceOf[Aggregate]), s"compaction aggregates:\n$p"))
    assert(store.levelCount == 1)
    assert(store.currentTriples.collect().map(_.toString).sorted.toSeq == before)
  }

  test("edge merges: empty batches and the first merge commit readable levels") {
    val empty = batch(Seq.empty, "2024-01-01 00:00:00")

    val fresh = new TripletStore(spark,
      Files.createTempDirectory("merge_empty_new").toString, autoCompactEvery = 0)
    assert(fresh.merge(empty, ts("2024-01-01 00:00:00")) ==
      TripletStore.MergeStats(0, 0, 0))
    assert(fresh.currentVersion == 0 && fresh.levelCount == 1)
    assert(fresh.ranges.count() == 0 && fresh.currentTriples.count() == 0)

    val first = new TripletStore(spark,
      Files.createTempDirectory("merge_first").toString, autoCompactEvery = 0)
    val rows = Seq(("m1", "name", "alpha"), ("m1", "license", "mit"), ("m2", "name", "beta"))
    assert(first.merge(batch(rows, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")) ==
      TripletStore.MergeStats(3, 0, 0))
    assert(first.currentVersion == 0)
    assert(first.currentTriples.select("subject", "predicate", "obj")
      .as[(String, String, String)].collect().toSet == rows.toSet)

    // an empty batch touches no subject: nothing extends or deprecates
    assert(first.merge(empty, ts("2024-02-01 00:00:00")) ==
      TripletStore.MergeStats(0, 0, 0))
    assert(first.currentVersion == 1 && first.levelCount == 2)
    assert(first.currentTriples.select("subject", "predicate", "obj")
      .as[(String, String, String)].collect().toSet == rows.toSet)
    assert(first.ranges.filter(col("deprecated")).count() == 0)
  }

  test("delta: a triple with a null field held by both versions is unchanged") {
    val store = new TripletStore(spark,
      Files.createTempDirectory("delta_null").toString, autoCompactEvery = 0)
    val rows = Seq((null: String, "name", "N"), ("m1", "name", "alpha"))
    store.merge(batch(rows, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    store.merge(batch(rows, "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    val (added, retired) = store.delta(0, 1)
    assert(added.collect().isEmpty, "nothing was added")
    assert(retired.collect().isEmpty, "nothing was retired")

    // a null-subject triple that does change is still reported once
    store.merge(batch(Seq((null: String, "name", "N2"), ("m1", "name", "alpha")),
      "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))
    val (added2, retired2) = store.delta(1, 2)
    assert(added2.collect().map(_.toString).toSeq == Seq("[null,name,N2]"))
    assert(retired2.collect().map(_.toString).toSeq == Seq("[null,name,N]"))
  }
}
