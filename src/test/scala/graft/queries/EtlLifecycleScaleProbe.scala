package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Second-decade evidence for q_etl_lifecycle (r10 VERDICT #4): the
  * first decade measured 2.83× (sf0.1 → sf1) under a "corpus-linear by
  * construction" adjudication — one decade cannot distinguish linear
  * from mildly super-linear, so this probe measures BOTH halves of the
  * chain separately at sf0.1 (1×), sf1 (10×, `tools/gen_sf1.py`) and a
  * 100× documents-only slice staged with the same key-shift/verbatim
  * replication:
  *
  *  - extraction half: the full card-parse → categorize → triple arms →
  *    A7 disambiguation batch, aggregated OVER a computed column so
  *    Catalyst cannot prune the typed-map work;
  *  - MERGE half: both TripletStore merges over PRE-materialized
  *    batches (extraction cost excluded), fresh scratch store per
  *    attempt.
  *
  * The linear claim holds iff each half's decade ratio stays at or near
  * 10× (every document re-extracts in load 2, so the touched slice IS
  * the snapshot here — the lifecycle has no sub-linear merge regime to
  * hide behind at this fixture). Numbers land in SCALE.md.
  *
  * Run idle: SPARK_DRIVER_MEM=32g sbt "Test/runMain graft.queries.EtlLifecycleScaleProbe"
  */
object EtlLifecycleScaleProbe {

  def main(args: Array[String]): Unit = {
    val bestOf = args.headOption.map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sf01 = "/root/testdata/sf0.1"
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val sf10 = "/tmp/graft_etl_sf10"
    // stage the 100x documents slice (the only table the chain reads);
    // _SUCCESS, not bare existence — a torn dir from a killed prior run
    // would silently measure a truncated fixture
    if (!new java.io.File(s"$sf10/documents.parquet/_SUCCESS").exists()) {
      val docs = Tables(spark, sf01, "documents")
      val cols = docs.columns
      docs.crossJoin(spark.range(100).select(col("id").as("rep")))
        .select(cols.map(c => if (c == "doc_id")
          (col("doc_id") + col("rep") * 10000000L).as("doc_id") else col(c)): _*)
        .write.mode("overwrite").parquet(s"$sf10/documents.parquet")
      println(s"[etl-scale] staged 100x documents at $sf10")
    }

    def minOf(f: => Double): Double = (1 to bestOf).map(_ => f).min

    // every extractionBatch call runs under a Checkpoints scope: its
    // internal `cat` checkpoint only registers for reclamation when one
    // is active, and an unscoped probe would pin one corpus-sized block
    // set PER CALL — storage pressure that skews the very timings this
    // probe exists to measure
    def timeExtraction(dir: String): Double = minOf {
      graft.operators.Checkpoints.scoped {
        val t0 = System.nanoTime()
        // aggregate OVER computed columns: count() alone lets Catalyst
        // prune the per-card parse (the verify-skill gotcha)
        EtlLifecycle.extractionBatch(spark, dir, 1)
          .agg(max(length(col("obj"))), max(col("confidence"))).head()
        (System.nanoTime() - t0) / 1e9
      }
    }

    def timeMerge(dir: String): Double = {
      // the returned plain localCheckpoint is NOT scope-registered; the
      // scope frees only the internal cat block once b1/b2 materialize
      val b1 = graft.operators.Checkpoints.scoped(
        EtlLifecycle.extractionBatch(spark, dir, 1).localCheckpoint())
      val b2 = graft.operators.Checkpoints.scoped(
        EtlLifecycle.extractionBatch(spark, dir, 2).localCheckpoint())
      val t = minOf {
        val tmp = java.nio.file.Files.createTempDirectory("etl_scale_store").toFile
        try {
          val store = new graft.load.TripletStore(spark, tmp.getAbsolutePath)
          val t0 = System.nanoTime()
          store.merge(b1, new Timestamp(LifecycleMerge.T1 * 1000))
          store.merge(b2, new Timestamp(LifecycleMerge.T3 * 1000))
          (System.nanoTime() - t0) / 1e9
        } finally graft.load.Scratch.rm(tmp)
      }
      graft.operators.Checkpoints.free(b1)
      graft.operators.Checkpoints.free(b2)
      t
    }

    def timeFull(dir: String): Double = minOf {
      val t0 = System.nanoTime()
      val out = EtlLifecycle.etlLifecycle(spark, dir)
      out.count()
      graft.operators.Checkpoints.free(out)
      (System.nanoTime() - t0) / 1e9
    }

    // Incremental-merge arm (r11 VERDICT #2): the decade rows above
    // re-extract EVERY document in load 2, so their merge measures
    // linear-in-snapshot by construction (touched slice = snapshot).
    // This arm keeps load 1 identical and shrinks load 2 to ~10% (and
    // ~1%) of subjects at the SAME slice: the O(touched + batch)
    // contract says the second merge must track the TOUCHED slice —
    // down roughly with the batch, not flat at the snapshot's cost.
    // (Bucket-level FILE pruning needs touched-buckets < N, i.e. a
    // micro-batch of tens of subjects — SCALE.md § Triple store records
    // that regime; here 10% of subjects covers all 64 buckets and the
    // win is the row-level touched-slice shuffle.)
    def timeSecondMerge(dir: String, keepOneIn: Option[Int]): (Long, Double) = {
      val b1 = graft.operators.Checkpoints.scoped(
        EtlLifecycle.extractionBatch(spark, dir, 1).localCheckpoint())
      val b2all = EtlLifecycle.extractionBatch(spark, dir, 2)
      val b2 = graft.operators.Checkpoints.scoped(
        keepOneIn.fold(b2all)(k =>
            b2all.filter(pmod(xxhash64(col("subject")), lit(k)) === 0))
          .localCheckpoint())
      val n = b2.count()
      val t = minOf {
        val tmp = java.nio.file.Files.createTempDirectory("etl_scale_inc").toFile
        try {
          val store = new graft.load.TripletStore(spark, tmp.getAbsolutePath)
          store.merge(b1, new Timestamp(LifecycleMerge.T1 * 1000)) // untimed
          val t0 = System.nanoTime()
          store.merge(b2, new Timestamp(LifecycleMerge.T3 * 1000))
          (System.nanoTime() - t0) / 1e9
        } finally graft.load.Scratch.rm(tmp)
      }
      graft.operators.Checkpoints.free(b1)
      graft.operators.Checkpoints.free(b2)
      (n, t)
    }

    val decades = Seq(("sf0.1(1x)", sf01), ("sf1(10x)", sf1), ("sf10(100x)", sf10))
    val rows = decades.map { case (name, dir) =>
      val e = timeExtraction(dir)
      val m = timeMerge(dir)
      val f = timeFull(dir)
      println(f"[etl-scale] $name%-11s extract=$e%7.2fs merge=$m%7.2fs full=$f%7.2fs")
      (name, e, m, f)
    }
    def ratios(i: Int, j: Int): String = {
      val (na, ea, ma, fa) = rows(i); val (nb, eb, mb, fb) = rows(j)
      f"[etl-scale] $na -> $nb: extract ${eb / ea}%5.2fx merge ${mb / ma}%5.2fx full ${fb / fa}%5.2fx"
    }
    println(ratios(0, 1))
    println(ratios(1, 2))

    Seq(None -> "full", Some(10) -> "10pct", Some(100) -> "1pct").foreach {
      case (k, label) =>
        val (n, t) = timeSecondMerge(sf10, k)
        println(f"[etl-scale] sf10 second-merge touched=$label%-6s rows=$n%9d dt=$t%7.2fs")
    }
    spark.stop()
  }
}
