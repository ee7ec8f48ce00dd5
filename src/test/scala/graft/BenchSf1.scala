package graft

import org.apache.spark.sql.SparkSession

/** The third bench decade — a MEASURED sf1 run of the most expensive
  * graded queries, converting the "plans survive 100×" claim from
  * two-decade probe extrapolation to measurement.
  *
  * Prereq: `python3 tools/gen_sf1.py` (10× sf0.1, key-shifted replicas,
  * text verbatim — a duplicate-heavy corpus by construction, the shape
  * the r9 hot-bucket discipline targets). Measures each query
  * best-of-N (N = SPARK_GRAFT_BENCH_N, default 3) at sf0.1 AND sf1 in
  * one session (apples-to-apples) and emits min/median/spread per
  * query — the drift discipline is the PROTOCOL's, not hand
  * adjudication: committed values are minima by construction, and the
  * spread column replaces the prose drift notes (this box drifts
  * 1.5–2× across host sessions on untouched queries; r9 measured
  * q_pagerank at 5.07/10.05/14.2 s for one binary). Fixed-slice
  * queries (the version family's doc_id∈[200,250) ingest batches) are
  * expected near 1× — their cost tracks the batch by design;
  * pair-output queries can exceed 10× where the OUTPUT contract is
  * quadratic under exact replication (flagged in the table).
  *
  * Stamp gate: a committed artifact taken on a contended host is noise
  * a future reader will misread (the r9 BENCH headline was 179 s at
  * loadavg 1.66 vs 93.6 s idle) — when the 1-minute loadavg has not
  * dropped below 1.0 by the deadline, the run completes but REFUSES to
  * stamp tools/, writing to /tmp instead.
  *
  * Run idle: sbt "Test/runMain graft.BenchSf1"
  */
object BenchSf1 {
  private val TopN = Seq(
    "q_pagerank", "q_media_groups", "q_stream_merge", "q_simhash_neardup",
    "q_context_match", "q_incremental_dedup", "q_codec_recall",
    "q_media_incremental", "q_version_ttl", "q_semantic_dedup",
    "q_containment", "q_version_compacted", "q_incremental_ann",
    "q_dedup_groups", "q_version_delta",
    // the two LSM sweep rows: capped intake at the demo cap +
    // full-recall sweep (escalation ladder and terminal star ENGAGE on
    // the verbatim-replicated sf1 corpus — the one place the hot-bucket
    // machinery is exercised at the third decade)
    "q_media_sweep", "q_semantic_sweep",
    // the decision instruments (same demo-capped intake setup; the
    // decision itself is one aggregate scan of the standing index)
    "q_sweep_decision", "q_semantic_sweep_decision",
    // r10 additions — the previously unmeasured expensive rows: the
    // five-stage corpus pipeline (its containment stage should inherit
    // the collapse-and-expand ~1.45×) and the two ANN maintenance acts
    "q_corpus_pipeline_v2", "q_ann_rebuild", "q_cell_split",
    // the two composed lifecycle rows, landed r10 among the most
    // expensive graded queries — measured at the decade the round they
    // ship (the corpus_pipeline_v2 lesson: never leave a new expensive
    // row's decade inferred)
    "q_etl_lifecycle", "q_openml_lifecycle",
    // r11 additions: the third lifecycle (fixed 600-part slice BY
    // DESIGN) and the recall-at-cap instrument (fixed intake slices) —
    // both expected ~1x; measured so the fixed-slice claim is pinned,
    // not asserted
    "q_ai4life_lifecycle", "q_recall_at_cap",
    // r13 additions: the two point-lookup verbs — fixed five-subject
    // lookups whose bucket + row-group pruning is exactly the term
    // that must NOT grow with the corpus (the fixture store itself is
    // fixed-slice; the lookup scan is the claim under measure)
    "q_subject_lookup", "q_subject_asof")

  import BenchProtocol.Timing

  def main(args: Array[String]): Unit = {
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    require(new java.io.File(s"$sf1Dir/documents.parquet").exists(),
      s"run tools/gen_sf1.py first (no corpus at $sf1Dir)")
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    // a committed sf1 stamp from a single timing is meaningless on a box
    // that drifts 1.5-2x per run — the drift columns would be degenerate
    require(n >= 2, s"the committed sf1 artifact needs best-of-N >= 2, got $n")
    // committed-artifact gate: wait for idle, refuse the tools/ stamp if
    // the box never settles (the run still completes, to /tmp); the
    // shared protocol samples BEFORE the session so the bench's own
    // startup load cannot flag an idle run
    val stampGate = 1.0
    val loadBefore = BenchProtocol.gateWait(stampGate, 600, "sf1bench")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def bestOfN(name: String, dir: String): Timing =
      BenchProtocol.bestOfN(n) {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // same memo exemption as graft.Bench: the session-lived
        // graft.memo.* checkpoints (the decoded media signatures and the
        // sampled co-purchase edges) survive the per-run sweep;
        // everything else a finished run pinned is dropped
        spark.sparkContext.getPersistentRDDs.values
          .filterNot(r => Option(r.name).exists(_.startsWith("graft.memo.")))
          .foreach(_.unpersist(false))
        dt
      }

    // fixture pin: the corpus is regenerated per session — tie this
    // run's numbers to the committed content checksum, or a future
    // drift investigation cannot rule out fixture drift. A mismatch
    // refuses the tools/ stamp exactly like contention does.
    val fixtureErr = Sf1Fixture.verify(spark, sf1Dir)
    fixtureErr.foreach(e =>
      System.err.println(s"[sf1bench] FIXTURE MISMATCH: $e"))

    // warm session machinery
    Tables(spark, "/root/testdata/sf0.1", "documents").count()
    Tables(spark, sf1Dir, "documents").count()

    val rows = TopN.map { q =>
      val d01 = bestOfN(q, "/root/testdata/sf0.1")
      val d1 = bestOfN(q, sf1Dir)
      println(f"[sf1bench] $q%-26s sf0.1=${d01.min}%6.2fs sf1=${d1.min}%7.2fs " +
        f"ratio=${d1.min / d01.min}%5.2fx med=${d1.med}%7.2fs spread=${d1.spread}%4.2fx")
      (q, d01, d1)
    }
    val qs = rows.map { case (q, a, b) =>
      f""""$q":{"sf01":${a.min},"sf1":${b.min},"ratio":${b.min / a.min},""" +
        f""""sf01_med":${a.med},"sf1_med":${b.med},""" +
        f""""sf01_spread":${a.spread},"sf1_spread":${b.spread}}""" }.mkString(",")
    val loadAfter = BenchProtocol.loadavg()
    val fixtureField = fixtureErr match {
      case None => s""""fixture":"${Sf1Fixture.ChecksumPath} verified","""
      case Some(e) => s""""fixture_mismatch":"${e.replace("\"", "'")}","""
    }
    val json = s"""{"metric":"sf1_top${TopN.size}","unit":"sec","sf1_dir":"$sf1Dir",""" +
      s""""protocol":"best_of_$n",$fixtureField""" +
      s""""loadavg_before":$loadBefore,"loadavg_after":$loadAfter,""" +
      s""""total_sf01":${rows.map(_._2.min).sum},"total_sf1":${rows.map(_._3.min).sum},""" +
      s""""queries":{$qs}}"""
    println(json)
    val stamp = loadBefore < stampGate && fixtureErr.isEmpty
    val out =
      if (stamp) s"tools/bench_sf1_top${TopN.size}.json"
      else s"/tmp/bench_sf1_top${TopN.size}_contended.json"
    if (!stamp)
      System.err.println(f"[sf1bench] loadavg_before $loadBefore%.2f (gate " +
        f"$stampGate%.1f) fixtureOk=${fixtureErr.isEmpty} — REFUSING the " +
        s"tools/ stamp; wrote $out instead")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
