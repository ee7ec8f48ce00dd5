package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts for the scale-critical queries: these assert
  * the properties that keep the engine viable at 100 TB — filters and
  * projections reaching the parquet scan, small dims broadcast instead of
  * shuffled, global top-k as TakeOrderedAndProject (no full sort), and a
  * bounded number of shuffles per query.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  private def countShuffles(df: DataFrame): Int = {
    // run `df` ITSELF so its own AQE plan finalizes (an action on a
    // derived frame finalizes a different plan), then count the final
    // plan's exchanges, subqueries included
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      PlanWalk.walk(p).flatMap(n => n +: n.subqueries.flatMap(nodes))
    nodes(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
  }

  test("scan pushdown: filter and projection reach the parquet reader") {
    val s = planString(queries.Relational.scanPushdown(spark, dir))
    // plan string truncates long filter lists; the leading pushed filters
    // prove the predicate reached the reader
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate)"), s)
    // only the 5 referenced columns are read
    assert(s.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double"), s)
    assert(!s.contains("l_comment") && !s.contains("l_returnflag"), s)
  }

  test("star join broadcasts every dimension (single fact shuffle family)") {
    val s = planString(queries.Relational.joinStar(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    // region filter applied before the join (partition-pruning analog)
    assert(s.contains("Batched"), s)
  }

  test("broadcast dim join produces no shuffle of the fact side") {
    val df = queries.Relational.joinBroadcast(spark, dir)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s)
    // the only shuffle is the final aggregation exchange
    assert(countShuffles(df) <= 1, s)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val s = planString(queries.Relational.topK(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("semi/anti joins stay joins (no subquery re-execution)") {
    val semi = planString(queries.Relational.semiJoin(spark, dir))
    assert(semi.contains("LeftSemi"), semi)
    val anti = planString(queries.Relational.antiJoin(spark, dir))
    assert(anti.contains("LeftAnti"), anti)
  }

  test("keyed window queries shuffle exactly once") {
    assert(countShuffles(queries.Temporal.dedupKeepLast(spark, dir)) == 1)
    assert(countShuffles(queries.Temporal.scd2Ranges(spark, dir)) == 1)
  }

  test("as-of join is one shuffle per side plus the window (no range blowup)") {
    val df = queries.Temporal.asOfJoinQ(spark, dir)
    assert(countShuffles(df) <= 3, planString(df))
    assert(!planString(df).contains("CartesianProduct"))
  }

  test("cosine top-k broadcasts the query side; corpus is never shuffled for the join") {
    val s = planString(queries.VectorOps.cosineTopK(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
  }

  test("sq8 top-k: query side broadcast, compressed corpus never shuffled for the join") {
    val s = planString(queries.Quantization.sq8TopK(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    // the codec is pure projection — no UDF boundary in the scoring path
    assert(!s.contains("BatchEvalPython") && !s.contains("ScalaUDF"), s)
  }

  test("compressed-index searches read codes, never the raw vector column") {
    // The 1-byte/dim (SQ8) / 1-byte/subspace (PQ) searchable-state claim
    // is only real if the executed scan proves it: the index-side
    // ReadSchema must hold the code blob + norm and EXCLUDE the persisted
    // raw vector `v` and full-precision norm `nrm` — otherwise a probe
    // still pays 8 bytes/dim per candidate row at 100 TB.
    val sq8 = planString(queries.Quantization.annSq8(spark, dir))
    assert(sq8.contains("sq8_codes:binary") && sq8.contains("sq8_dn:double"), sq8)
    assert(!sq8.contains(",v:array") && !sq8.contains("nrm:double"), sq8)
    val pq = planString(queries.Quantization.annPq(spark, dir))
    assert(pq.contains("pq_codes:binary") && pq.contains("pq_dn:double"), pq)
    assert(!pq.contains(",v:array") && !pq.contains("nrm:double"), pq)
    val pqr = planString(queries.Quantization.annPqResidual(spark, dir))
    assert(pqr.contains("pqr_codes:binary") && pqr.contains("pqr_dn:double"), pqr)
    assert(!pqr.contains(",v:array") && !pqr.contains("nrm:double"), pqr)
    // filtered search: the predicate column rides the index row — codes +
    // label in the scan, still no raw vector, no join back to the corpus
    val fl = planString(queries.Quantization.annFiltered(spark, dir))
    assert(fl.contains("label:int") && fl.contains("sq8_codes:binary"), fl)
    assert(!fl.contains(",v:array") && !fl.contains("nrm:double"), fl)
    // OPQ: same contract — permuted-space codes + norm only; the
    // permutation gather runs on the broadcast query side, never per
    // candidate
    val opq = planString(queries.Quantization.annOpq(spark, dir))
    assert(opq.contains("opq_codes:binary") && opq.contains("opq_dn:double"), opq)
    assert(!opq.contains(",v:array") && !opq.contains("nrm:double"), opq)
    // ADC scoring is m lookups via pure column ops — the only ScalaUDF in
    // the plan is the broadcast-side probe assignment (10 query rows),
    // never a per-candidate decode
    assert(!pq.contains("BatchEvalPython"), pq)
  }

  test("pq rerank: raw vectors read only behind the broadcast shortlist join") {
    val s = planString(queries.Quantization.pqRerank(spark, dir))
    // shortlist side scans codes only; the raw-vector scan joins against
    // the broadcast 50-per-query shortlist (never shuffles the corpus)
    assert(s.contains("pq_codes:binary"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("media near-dup candidates are a banded equi-join, never a cross join") {
    // the whole 100 TB claim of the media dedup family: candidates come
    // from SortMergeJoin/ShuffledHashJoin on (band, band-value), so a
    // pair is compared only when a 12-bit band collides
    val nd = planString(queries.MediaDedup.mediaNearDup(spark, dir))
    assert(!nd.contains("CartesianProduct") &&
      !nd.contains("BroadcastNestedLoopJoin"), nd)
    val fo = planString(queries.MediaDedup.frameOverlap(spark, dir))
    assert(!fo.contains("CartesianProduct") &&
      !fo.contains("BroadcastNestedLoopJoin"), fo)
    // frame fingerprint join is an equi-join on sig
    assert(fo.contains("SortMergeJoin") || fo.contains("ShuffledHashJoin") ||
      fo.contains("BroadcastHashJoin"), fo)
  }

  test("hash aggregations use partial (map-side) aggregation") {
    val s = planString(queries.Relational.q1Agg(spark, dir))
    assert(s.contains("HashAggregate"), s)
    // partial + final pair around one exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
  }

  test("aggregator top-k does map-side partial aggregation") {
    val df = queries.Sessions.topKAgg(spark, dir)
    val sPlan = planString(df)
    // ObjectHashAggregate pairs (partial + final) around one exchange:
    // the buffer shuffled is k rows per group per partition, not the group
    assert("ObjectHashAggregate".r.findAllIn(sPlan).size >= 2, sPlan)
    assert(countShuffles(df) <= 2, sPlan)
  }

  test("bucketized range join is equi-join shaped (no nested loop)") {
    val df = queries.Sessions.rangeJoinQ(spark, dir)
    val sPlan = planString(df)
    assert(!sPlan.contains("CartesianProduct") &&
      !sPlan.contains("BroadcastNestedLoopJoin"), sPlan)
    assert(countShuffles(df) <= 4, sPlan) // sessionize window + join sides
  }

  test("chunk packing has no single-partition exchange (two-level cumsum)") {
    val sPlan = planString(queries.Temporal.chunkPackLocal(spark, dir))
    // the old global-order window planned Exchange SinglePartition: every
    // row through one task — dead at 100x. The two-level plan range
    // partitions then hashes on pid; all exchanges are multi-partition.
    assert(!sPlan.contains("SinglePartition"), sPlan)
    assert(sPlan.contains("REPARTITION_BY_NUM") || sPlan.contains("rangepartitioning")
      || sPlan.toLowerCase.contains("range"), sPlan)
  }

  test("repetition score: bounded shuffles (bigram count + rejoin)") {
    assert(countShuffles(queries.TextOps.repetitionScore(spark, dir)) <= 3)
  }

  test("vocab top-k: partial agg + TakeOrderedAndProject, no global sort") {
    val df = queries.TextOps.vocabTopK(spark, dir)
    val s = planString(df)
    assert(s.contains("TakeOrderedAndProject"), s)
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
  }

  test("doc pivot with platform classification is a single shuffle") {
    assert(countShuffles(queries.Graph.docPivotPlatformQ(spark, dir)) == 1)
  }

  test("nested entity generation is shuffle-free (pure explode)") {
    assert(countShuffles(queries.Graph.nestedEntities(spark, dir)) == 0)
  }

  test("nested entity explodes generate from precomputed attributes") {
    val s = planString(queries.Graph.nestedEntities(spark, dir))
    assert(s.contains("Generate explode"), s)
    // the generator children must be plain (checkpointed) columns: a HOF
    // chain or hash inside a Generate re-evaluates per array element
    // (the §spark4-gotchas trap, measured ~10x)
    val genLines = s.linesIterator.filter(_.contains("Generate")).toSeq
    assert(genLines.nonEmpty &&
      genLines.forall(l => !l.contains("transform(") && !l.contains("sha2(")),
      genLines.mkString("\n"))
  }

  test("incremental dedup acceptance is equi-joins only (never all-pairs)") {
    import spark.implicits._
    val batch = graft.similarity.DedupIndex.signaturesFor(
      Seq((3L, "iota kappa lambda mu nu"), (4L, "xi omicron pi rho sigma"))
        .toDF("doc_id", "text"))
    val idx = graft.similarity.DedupIndex.signaturesFor(
      Seq((1L, "alpha beta gamma delta epsilon"), (2L, "zeta eta theta"))
        .toDF("doc_id", "text"))
    val df = graft.similarity.DedupIndex.acceptancePlan(batch, idx)
    val s = planString(df)
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("LeftAnti"), s) // exact + near drops are anti-joins
    // index probes are semi-filtered by the batch's keys BEFORE any
    // anti/hit join — the standing index streams through the semi (whose
    // build side is the small batch list) instead of shuffling per ingest
    assert(s.contains("LeftSemi"), s)
  }

  test("semantic ingest: id-only candidate shuffle, equi-joins, no cartesian") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import spark.implicits._
    graft.load.Scratch.withScratch("graft_plan_sem", "planspec") { tmp =>
      val sem = new graft.similarity.SemanticDedupIndex(
        spark, tmp.getAbsolutePath, threshold = 0.9)
      val sk = graft.similarity.SemanticSketch()
      val mk = (ids: Seq[Long]) => graft.similarity.SemanticDedupIndex.withSketch(
        ids.map(i => (i, Seq.tabulate(16)(d => (i + d).toDouble)))
          .toDF("vec_id", "embedding"), sk)
      val batch = mk(Seq(10L, 11L, 12L))
      val idx = mk(Seq(1L, 2L))

      // candidate stage: equi-joins only, and every exchange ships bare
      // ids + band/bucket — the ~KB vector payload columns must never
      // ride the (potentially quadratic, pre-cap) candidate shuffle
      val cands = sem.candidatePairs(batch, idx)
      val cs = planString(cands)
      assert(!cs.contains("CartesianProduct") &&
        !cs.contains("BroadcastNestedLoopJoin"), cs)
      // the index-side bands are semi-filtered to the batch's probed
      // (band, bucket) cells before pair formation
      assert(cs.contains("LeftSemi"), cs)
      cands.count() // let AQE finalize before walking exchanges
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case other =>
          Seq(other) ++ other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
      }
      val exchanges = walk(executed(cands)).collect { case e: Exchange => e }
      assert(exchanges.nonEmpty, planString(cands))
      val leaked = exchanges.filter(_.output.exists(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }))
      assert(leaked.isEmpty,
        s"vector payload rides the candidate shuffle: ${leaked.map(_.output).mkString(";")}")

      // cosine stage on the capped pairs: still equi-joins, no cartesian
      val ds = planString(sem.cosineDrops(cands, batch, idx))
      assert(!ds.contains("CartesianProduct") &&
        !ds.contains("BroadcastNestedLoopJoin"), ds)

      // capped pair formation (the 100 TB path): the acceptor rank and
      // the pair join must also ship bare ids only — the cap bounds the
      // pair volume, the id-only exchanges bound the bytes per pair
      val capped = sem.cappedCandidatePairs(batch, idx, 2)
      capped.count()
      val cappedLeaks = walk(executed(capped))
        .collect { case e: Exchange => e }
        .filter(_.output.exists(_.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }))
      assert(cappedLeaks.isEmpty,
        s"vector payload rides the capped candidate path: " +
          cappedLeaks.map(_.output).mkString(";"))
      val cs2 = planString(capped)
      assert(!cs2.contains("CartesianProduct") &&
        !cs2.contains("BroadcastNestedLoopJoin"), cs2)
    }
  }

  test("sampling: split is map-only, mixture one agg shuffle, sample one window shuffle") {
    // split assignment is a pure projection — the 100 TB property is that
    // assigning splits costs zero data movement
    assert(countShuffles(queries.Sampling.splitAssign(spark, dir)) == 0)
    // mixture = map-side filter + one aggregation shuffle
    assert(countShuffles(queries.Sampling.sourceMixture(spark, dir)) <= 1)
    // stratified sample pays exactly one keyed shuffle, and its map-side
    // top-k buffers mean that shuffle carries <= k rows per stratum per
    // partition (k·|strata|·partitions total), never a whole stratum
    assert(countShuffles(queries.Sampling.stratifiedSample(spark, dir)) == 1)
  }

  test("corpus ops: decontamination equi-joins only, bm25 top-k no full sort") {
    // decontamination: the n-gram overlap and the verdict join are all
    // equi-joins — no cartesian/BNLJ anywhere (the 100 TB property)
    val d = queries.Corpus.decontaminate(spark, dir)
    val ds = planString(d)
    assert(!ds.contains("CartesianProduct") &&
      !ds.contains("BroadcastNestedLoopJoin"), ds)
    // bm25: corpus stats come back as a ONE-ROW broadcast (the only
    // nested-loop join in the plan), scoring is a projection, and the
    // global ranking is top-k (TakeOrderedAndProject), never a full sort
    val b = queries.Corpus.bm25TopK(spark, dir)
    val bs = planString(b)
    assert(bs.contains("TakeOrderedAndProject"), bs)
    assert(!bs.contains("CartesianProduct"), bs)
    assert(bs.contains("BroadcastNestedLoopJoin"), bs) // the 1-row stats join
    // quantiles run over the value histogram: bounded shuffles regardless
    // of corpus size (hist agg + per-lang window + final agg)
    assert(countShuffles(queries.Corpus.lengthQuantiles(spark, dir)) <= 3)
    // classifier filter is a stateless map: score + prune AT THE SCAN
    assert(countShuffles(queries.VectorOps.classifierFilter(spark, dir)) == 0)
  }

  test("fuzzy decontamination: id-only LSH candidate shuffle, equi-joins only") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.ArrayType
    val sig = queries.Corpus.fuzzySig(spark, dir)
    val cand = queries.Corpus.fuzzyCandidates(sig)
    val cs = planString(cand)
    assert(!cs.contains("CartesianProduct") &&
      !cs.contains("BroadcastNestedLoopJoin"), cs)
    cand.count() // let AQE finalize before walking exchanges
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other =>
        Seq(other) ++ other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    val exchanges = walk(executed(cand)).collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, cs)
    val leaked = exchanges.filter(_.output.exists(_.dataType.isInstanceOf[ArrayType]))
    assert(leaked.isEmpty,
      s"shingle payload rides the candidate shuffle: ${leaked.map(_.output).mkString(";")}")
    // full query (verify join + per-doc agg): still no cartesian anywhere
    val fs = planString(queries.Corpus.fuzzyDecontaminate(spark, dir))
    assert(!fs.contains("CartesianProduct") &&
      !fs.contains("BroadcastNestedLoopJoin"), fs)
  }

  test("common spans: gram strings never ride a shuffle, equi-joins only") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.StringType
    val df = queries.Corpus.commonSpans(spark, dir)
    val s = planString(df)
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    df.count() // let AQE finalize before walking exchanges
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other =>
        Seq(other) ++ other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    val exchanges = walk(executed(df)).collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, s)
    // every shuffled/broadcast row is (ids, positions, xxhash64) — the
    // ~30-char gram strings stay map-side, pre-hash
    val leaked = exchanges.filter(_.output.exists(_.dataType == StringType))
    assert(leaked.isEmpty,
      s"gram strings ride a shuffle: ${leaked.map(_.output).mkString(";")}")
  }

  test("lm score and simhash neardup: equi-joins only, bounded shuffles") {
    // LM scoring: bigram count, context count (over the bigram TABLE,
    // not the corpus), LM join, score join, per-doc agg, totality join —
    // all equi; nothing quadratic
    val lm = queries.TextOps.lmScore(spark, dir)
    val ls = planString(lm)
    assert(!ls.contains("CartesianProduct") &&
      !ls.contains("BroadcastNestedLoopJoin"), ls)
    assert(countShuffles(lm) <= 8, ls) // incl. spread's utilization repartition
    // simhash near-dup: one corpus aggregate then a band-local self-join
    val sh = queries.Sessions.simhashNearDup(spark, dir)
    val ss = planString(sh)
    assert(!ss.contains("CartesianProduct") &&
      !ss.contains("BroadcastNestedLoopJoin"), ss)
  }

  test("budget cap: broadcast offset join, no per-key window shuffle") {
    val df = queries.Sampling.budgetCap(spark, dir)
    val s = planString(df)
    // the offset table joins in as a broadcast; the cumsum upstream is
    // checkpointed (KeyedCumsum), so downstream sees only the broadcast
    // join + the final aggregate exchange
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(countShuffles(df) <= 1, s)
  }

  test("temperature mix: thresholds broadcast onto the corpus, stats one row") {
    val df = queries.Sampling.temperatureMix(spark, dir)
    val s = planString(df)
    // corpus-side membership test is a broadcast lookup (thresholds =
    // |langs| rows by construction), never a corpus shuffle
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    // the c_min stats join is the bm25-style one-row broadcast
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("capped jaccard: hot-set anti-join, equi pair join, no cartesian") {
    val s = planString(queries.TextOps.ngramJaccard(spark, dir))
    assert(s.contains("LeftAnti"), s)
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("pii redaction is shuffle-free and reads only doc_id and text") {
    val df = queries.TextOps.piiRedact(spark, dir)
    assert(countShuffles(df) == 0)
    val s = planString(df)
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"), s)
  }

  test("edge-ngram search reads only the needed columns") {
    val sPlan = planString(queries.Analytics.edgeNgramSearch(spark, dir))
    assert(sPlan.contains("ReadSchema: struct<p_partkey:bigint,p_name:string>"), sPlan)
  }

  test("n3 lines: shuffle-free projection with the native escape expression") {
    val df = queries.Graph.n3Lines(spark, dir)
    assert(countShuffles(df) == 0)
    // the expression prints as its class simple-name; the *(1) prefix
    // proves the projection stayed inside whole-stage codegen
    val s = planString(df)
    assert(s.contains("n3escapeexpr") && s.contains("*(1) Project"), s)
  }

  test("rrf fusion: both arms end in top-k, no cartesian, no full sort") {
    val s = planString(queries.VectorOps.rrfFusion(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("context match is a single typed pass over the cards (no shuffle, no join)") {
    val df = queries.Extraction.contextMatch(spark, dir)
    assert(countShuffles(df) == 0)
    val s = planString(df)
    assert(!s.contains("Join"), s)
  }

  test("croissant triples: one dedup shuffle, no join, pruned scan") {
    val df = queries.Extraction.croissantTriples(spark, dir)
    // flatMap expansion + dropDuplicates(subject, predicate, obj): the
    // dedup aggregate's exchange is the only shuffle at any corpus size
    assert(countShuffles(df) <= 1)
    assert(!planString(df).contains("Join"), planString(df))
  }

  test("tag categorize is a pure map stage (no shuffle, no join)") {
    // array HOFs + broadcast-sized vocab literals: at 100 TB this must
    // stay embarrassingly parallel
    val df = queries.TextOps.tagCategorize(spark, dir)
    assert(countShuffles(df) == 0, planString(df))
    assert(!planString(df).contains("Join"), planString(df))
  }

  test("platform extract: status dim broadcast, zero shuffle exchanges") {
    // unions of per-property projections + one broadcast dim lookup —
    // the record side must never shuffle for the J3 status join
    val df = queries.Extraction.platformExtract(spark, dir)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(countShuffles(df) == 0, s)
  }

  test("weighted sample: top-n via TakeOrderedAndProject, window after limit") {
    // the n-of-corpus draw must be per-partition top-n + one n-row merge
    // — a global Sort before the limit would shuffle the whole corpus
    val df = queries.Sampling.weightedSample(spark, dir)
    val s = planString(df)
    assert(s.contains("TakeOrderedAndProject"), s)
    // only the post-limit single-partition exchange for the rank window
    // (100 rows) — the corpus itself is never shuffled or globally sorted
    assert(countShuffles(df) <= 1, s)
  }

  test("triangle census: equi-joins only, never a cartesian wedge product") {
    val df = queries.Graph.trianglesQ(spark, dir)
    val s = planString(df)
    assert(!s.contains("CartesianProduct"), s)
    // the one-row stats × tri combination stays a broadcast nested loop
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin") ||
      s.contains("BroadcastHashJoin"), s)
  }

  test("etl lifecycle quality scan: pushable half of P3 reaches the reader") {
    // the length/token predicates compute over text (not pushable), but
    // the n_chars floor and lang null-rejection must reach the parquet
    // scan — at 100 TB the snapshot prune is the difference between
    // reading the corpus and reading the survivors
    val s = planString(queries.EtlLifecycle.qualityDocs(spark, dir))
    assert(s.contains("PushedFilters: [IsNotNull(n_chars), IsNotNull(text), " +
      "GreaterThanOrEqual(n_chars,150), IsNotNull(lang)"), s)
  }

  test("triplet store merge prunes its level read by subject bucket") {
    // the merge-path contract at 100 TB: the store-side read of the
    // MERGE is partition-PRUNED to the batch's touched subject buckets
    // — files skipped at planning time, not rows filtered after a
    // full-lake scan (StreamingLoad merges per micro-batch, so an
    // unpruned scan is the lake, every batch)
    import java.sql.Timestamp
    val storeDir = java.nio.file.Files.createTempDirectory("plan_store").toString
    // bucketMinRows = 1 forces the bucketed layout at toy scale — the
    // default floor only buckets lake-sized levels
    val store = new load.TripletStore(spark, storeDir, autoCompactEvery = 0,
      bucketMinRows = 1L)
    def mkBatch(obj: String) = {
      import spark.implicits._
      (1 to 200).map(i => (s"m$i", "name", s"$obj$i"))
        .toDF("subject", "predicate", "obj")
        .withColumn("objKind", org.apache.spark.sql.functions.lit("literal"))
        .withColumn("datatype", org.apache.spark.sql.functions.lit(""))
        .withColumn("extractionMethod", org.apache.spark.sql.functions.lit("p"))
        .withColumn("confidence", org.apache.spark.sql.functions.lit(1.0))
        .withColumn("extractionTime",
          org.apache.spark.sql.functions.lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    }
    store.merge(mkBatch("a"), Timestamp.valueOf("2024-01-01 00:00:00"))
    store.merge(mkBatch("b"), Timestamp.valueOf("2024-02-01 00:00:00"))
    import spark.implicits._
    val oneSubject = Seq("m7").toDF("subject")
    // per-level modulus form: the filter derives from each level's own
    // self-described N (all levels share one N here, but the function
    // shape is the contract)
    val bucketsFor = (n: Int) =>
      Seq(load.TripletStore.subjectBucketLocal("m7", n))
    val pruned = store.reconstruct(store.currentVersion, openOnly = true,
      subjects = Some(oneSubject), bucketsFor = Some(bucketsFor))
    pruned.collect() // execute THIS plan so its scan metrics populate
    val s = planString(pruned)
    // the bucket restriction lands as a PartitionFilter on every level scan
    assert("PartitionFilters: \\[[^\\]]*sbkt".r.findFirstIn(s).isDefined, s)
    // and it actually prunes: the scans read a small fraction of the
    // store's files (one bucket partition per level, not all ~64)
    val filesRead = PlanWalk.filesRead(pruned)
    val totalFiles = PlanWalk.countParquet(new java.io.File(storeDir))
    assert(totalFiles > 50, s"store too small to prove pruning: $totalFiles")
    assert(filesRead <= 4 && filesRead >= 1,
      s"pruned read touched $filesRead of $totalFiles files")
    // the PUBLIC point-lookup verb rides the same pruned scan, AND the
    // subject list reaches the parquet reader as a PUSHED literal
    // predicate — with level files subject-sorted, footer min/max stats
    // prune row groups INSIDE a touched bucket, so the lookup is
    // O(matching rows) even when a bucket is terabytes (the r12
    // saturation finding's within-bucket continuation)
    val lookup = store.currentTriplesFor(Seq("m7"))
    lookup.collect()
    val ls = planString(lookup)
    assert("PartitionFilters: \\[[^\\]]*sbkt".r.findFirstIn(ls).isDefined, ls)
    assert("PushedFilters: \\[[^\\]]*In\\(subject".r.findFirstIn(ls).isDefined
      || "PushedFilters: \\[[^\\]]*EqualTo\\(subject".r.findFirstIn(ls).isDefined, ls)
    // the MERGE path pushes the same literal predicate when the batch's
    // subject count is driver-bounded (every micro-batch regime): the
    // level read prunes by row group even when the batch touches ALL
    // buckets and partition pruning alone saturates
    val mergeRead = store.reconstruct(store.currentVersion, openOnly = true,
      bucketsFor = Some(bucketsFor), subjectLits = Some(Seq("m7")))
    mergeRead.collect()
    val ms = planString(mergeRead)
    assert("PushedFilters: \\[[^\\]]*In\\(subject".r.findFirstIn(ms).isDefined
      || "PushedFilters: \\[[^\\]]*EqualTo\\(subject".r.findFirstIn(ms).isDefined, ms)
    // and no store-side join remains on the literal path — the filter IS
    // the restriction (the semi-join shape is the >cap fallback only)
    assert(!ms.contains("LeftSemi"), ms)
    // NATIVE In path (>10 literals — above the default session
    // threshold, which this store deliberately never raises): the list
    // must still reach every level scan as ONE pushed In — Spark 4.1's
    // above-threshold path prunes it by stats+bloom (in_pushdown_r14) —
    // with no join and no chunk-union
    val wide = (1 to 40).map(i => s"m$i")
    val nativeIn = store.currentTriplesFor(wide)
    nativeIn.collect()
    val ns = planString(nativeIn)
    assert("PushedFilters: \\[[^\\]]*In\\(subject".r.findFirstIn(ns).isDefined, ns)
    assert(!ns.contains("LeftSemi"), ns)
    graft.load.Scratch.rm(new java.io.File(storeDir))
  }

  test("triplet store reads: one exchange, one scan per level; merge keeps its join's exchange") {
    // every read verb clusters its level rows once, on tripletHash; merge
    // alone keeps the window's (tripletHash, infoHash) exchange because
    // its full-outer join on that pair reuses it
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("plan_reads").toString
    def nodes(df: DataFrame) = { df.collect(); PlanWalk.walk(executed(df)) }
    def exchanges(df: DataFrame) = nodes(df).count(_.isInstanceOf[ShuffleExchangeLike])
    def scans(df: DataFrame) = nodes(df).count(_.isInstanceOf[FileSourceScanExec])
    def mkBatch(obj: String, t: String) =
      (1 to 50).map(i => (s"m$i", "name", s"$obj$i")).toDF("subject", "predicate", "obj")
        .withColumn("objKind", lit("literal")).withColumn("datatype", lit(""))
        .withColumn("extractionMethod", lit("p")).withColumn("confidence", lit(1.0))
        .withColumn("extractionTime", lit(Timestamp.valueOf(t)))
    Seq(1L, load.TripletStore.DefaultBucketMinRows).foreach { minRows =>
      val store = new load.TripletStore(spark, storeDir, autoCompactEvery = 0,
        bucketMinRows = minRows)
      store.merge(mkBatch("a", "2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-01 00:00:00"))
      store.merge(mkBatch("b", "2024-02-01 00:00:00"), Timestamp.valueOf("2024-02-01 00:00:00"))
      val jan = Timestamp.valueOf("2024-01-15 00:00:00")
      val what = s"(bucketMinRows = $minRows)"
      // latest-per-identity and the triple dedup share one exchange on
      // tripletHash, on the literal path and the above-cap semi-join path
      val wide = (1 to 20).map(i => s"m$i")
      Seq(store.currentTriplesFor(Seq("m7")), store.currentTriplesFor(Seq("m7"), jan),
          store.currentTriplesFor(wide), store.currentTriplesFor(wide, jan))
        .foreach(df => assert(exchanges(df) == 1, s"$what ${planString(df)}"))
      val capped = new load.TripletStore(spark, storeDir, autoCompactEvery = 0,
        bucketMinRows = minRows, subjectLiteralCap = 4)
      Seq(capped.currentTriplesFor(wide), capped.currentTriplesFor(wide, jan))
        .foreach(df => assert(exchanges(df) == 1, s"$what ${planString(df)}"))
      // open and closed rows come from ONE scan per level, not a second
      // union arm over the closed history; bucketed levels are one scan
      // each, unbucketed levels share one multi-root scan
      val levelScans = if (minRows == 1L) store.levelCount else 1
      Seq(store.currentTriplesFor(Seq("m7"), jan), store.asOf(jan), store.ranges)
        .foreach(df => assert(scans(df) == levelScans, s"$what ${planString(df)}"))
      // delta: one window exchange per snapshot and one comparison
      // aggregate, not a distinct per snapshot plus the anti-join's
      val (added, retired) = store.delta(0, store.currentVersion)
      Seq(added, retired).foreach(df =>
        assert(exchanges(df) == 3, s"$what ${planString(df)}"))
      // merge's store side keeps the window's own exchange on
      // (tripletHash, infoHash): its full-outer join with the batch then
      // adds only the batch side's exchange
      val mergeRead = store.reconstruct(store.currentVersion, openOnly = true,
        subjectLits = Some(Seq("m7")))
      assert(exchanges(mergeRead) == 1, s"$what ${planString(mergeRead)}")
      val inc = load.TripletStore.withIdentity(
        mkBatch("c", "2024-03-01 00:00:00").filter(col("subject") === "m7"))
      val joined = mergeRead.as("o").join(inc.as("i"),
        col("o.tripletHash") === col("i.tripletHash") &&
          col("o.infoHash") === col("i.infoHash"), "full_outer")
      assert(exchanges(joined) == 2, s"$what ${planString(joined)}")
      graft.load.Scratch.rm(new java.io.File(storeDir))
    }
  }
}
