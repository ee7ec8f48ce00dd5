package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Vector similarity + multimodal-column operators over `embeddings` and
  * `documents`: brute-force cosine top-k (the correctness baseline),
  * sign-bit LSH bucketed near-dup (the scale path), and opaque-binary
  * multimodal plumbing.
  *
  * Dot products and norms use the native codegen'd `dot_double`
  * expression — a sequential left-fold bit-identical to the
  * `aggregate`/`zip_with` column form (pinned by ExpressionsSpec), so
  * the arithmetic is reproducible and oracle-matchable while staying
  * inside whole-stage codegen. The top-k query broadcasts the small
  * query side (never shuffles the corpus); the near-dup query only joins
  * within LSH buckets (never all-pairs).
  */
object VectorOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_double(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private def embWithNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      // single-split test file → spread the dot-product work across cores
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Brute-force cosine top-k: each query vector (small set, broadcast)
    * scored against the whole corpus, per-query top-5 by window. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    c.join(broadcast(q))
      .withColumn("cos_raw", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 4).as("cos"))
  }

  val cosineTopKSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)) AS nrm
      |  FROM embeddings)
      |SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]), (a, b) -> a + b)
      |      / (q.nrm * c.nrm) AS cos_raw,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]), (a, b) -> a + b)
      |        / (q.nrm * c.nrm) DESC, c.vec_id) AS rn
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10)
      |WHERE rn <= 5""".stripMargin

  /** Sign-bit LSH near-dup: bucket on the sign pattern of the first 8
    * dimensions (a fixed random-hyperplane sketch for random embeddings),
    * join only within buckets, keep pairs with cosine >= 0.2. */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val bucket = (1 to 8)
      .map(i => when(element_at(col("v"), i) > 0, 1 << (i - 1)).otherwise(0))
      .reduce(_ + _)
    val e = embWithNorm(s, dir).withColumn("bucket", bucket)
    val a = e.select(col("vec_id").as("vec1"), col("v").as("v1"),
      col("nrm").as("n1"), col("bucket"))
    val b = e.select(col("vec_id").as("vec2"), col("v").as("v2"),
      col("nrm").as("n2"), col("bucket"))
    a.join(b, "bucket")
      .filter(col("vec1") < col("vec2"))
      .withColumn("cos_raw", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos_raw") >= 0.2)
      .select(col("vec1"), col("vec2"), round(col("cos_raw"), 4).as("cos"))
  }

  val embedNearDupSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)) AS nrm,
      |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
      |     CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
      |     CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
      |     CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END +
      |     CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END +
      |     CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END +
      |     CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END +
      |     CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
      |  FROM embeddings)
      |SELECT vec1, vec2, round(cos_raw, 4) AS cos FROM (
      |  SELECT a.vec_id AS vec1, b.vec_id AS vec2,
      |    list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |      / (a.nrm * b.nrm) AS cos_raw
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |WHERE cos_raw >= 0.2""".stripMargin

  /** Multimodal-column plumbing: documents carried as opaque binary
    * payloads with typed metadata; the "decode" is a deterministic stub
    * (byte stats + frame-sample count) — the Spark-side schema,
    * projection, and batch shape are the real thing. */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        (octet_length(col("payload")) % 256).cast("long").as("stub_feature"),
        (floor(octet_length(col("payload")) / 64) + 1).cast("long").as("n_frames"),
        col("source"))

  val multimodalMetaSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(text)) % 256 AS BIGINT) AS stub_feature,
      |  CAST(floor(octet_length(encode(text)) / 64) + 1 AS BIGINT) AS n_frames,
      |  source
      |FROM documents""".stripMargin

  /** Incremental SEMANTIC dedup, oracle-graded: the embeddings table
    * arrives in two batches through [[graft.similarity.SemanticDedupIndex]]
    * (multi-band random-hyperplane sketch, default 3 bands x 8 bits, md5
    * hyperplanes both engines can derive); the DuckDB oracle replays the
    * full drop rules — exact-vector collapse, band-bucket candidates,
    * non-cascading smaller-id acceptance, cosine >= 0.2 drop. Output =
    * surviving vec_ids with their arrival batch. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // process-unique scratch, removed even on failure (Scratch.withScratch);
    // the candidate cap is pinned effectively-off for the graded run — the
    // oracle replays UNCAPPED drop rules, so the Spark side must never
    // truncate here regardless of what the production default becomes
    graft.load.Scratch.withScratch("graft_semdedup_q", dir) { tmp =>
      val idx = new graft.similarity.SemanticDedupIndex(
        s, tmp.getAbsolutePath, threshold = 0.2,
        sketch = graft.similarity.SemanticSketch(
          maxCandidatesPerVector = Int.MaxValue))
      idx.ingest(emb.filter(col("vec_id") < 250))
      idx.ingest(emb.filter(col("vec_id") >= 250))
      idx.vectors.select(col("vec_id"),
        when(col("vec_id") < 250, 1L).otherwise(2L).as("arrival_batch"))
        .localCheckpoint()
    }
  }

  /** DuckDB replay of the semantic-dedup drop rules. The hyperplane
    * components are md5-derived (`SemanticSketch.component`), so the
    * bucket CTE reconstructs the exact Spark buckets; dot products use the
    * proven list_reduce left-fold form (bit-identical to Spark's
    * aggregate/zip_with fold). Two invariants this SQL depends on:
    * (1) the Spark side runs with maxCandidatesPerVector = MaxValue (the
    * oracle scores ALL bucket-collision pairs — a triggered cap would
    * legitimately diverge); (2) the sketch dim (64) equals the embedding
    * dim — the oracle derives hyperplanes over len(v), the Spark side over
    * sketch.dim, and ingest() rejects wider vectors loudly. The exact-dup
    * stages key differently by construction — this SQL on list equality
    * (GROUP BY v / s.v = e2.v), Spark on md5 of a canonical JSON rendering
    * (-0.0 normalized to +0.0, matching SQL's -0.0 = 0.0) — so they agree
    * under one corpus precondition: no NaN vector components (SQL grouping
    * treats NaN = NaN as equal; JSON renders NaN payloads distinct). The
    * generated embeddings table contains no NaN. */
  val semanticDedupSql: String = {
    val cosine =
      """list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * c.v[i]), (x, y) -> x + y)
        |        / nullif(a.nrm * c.nrm, 0) >= 0.2""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |projs AS (
       |  SELECT vec_id, tb.b AS b, tj.j AS j,
       |    list_reduce(list_transform(range(1, len(v) + 1),
       |      d -> v[d] * (CASE WHEN ('0x' || substr(md5('hp|' || CAST(tb.b AS VARCHAR) || '|' || CAST(tj.j AS VARCHAR) || '|' || CAST(d - 1 AS VARCHAR)), 1, 8))::UBIGINT % 2 = 1 THEN 1.0 ELSE -1.0 END)),
       |      (a, b) -> a + b) AS proj
       |  FROM e, range(0, 3) tb(b), range(0, 8) tj(j)),
       |buckets AS (
       |  SELECT vec_id, b,
       |    CAST(SUM(CASE WHEN proj > 0 THEN (1 << j) ELSE 0 END) AS INTEGER) AS bucket
       |  FROM projs GROUP BY vec_id, b),
       |b1 AS (SELECT * FROM e WHERE vec_id < 250),
       |b2 AS (SELECT * FROM e WHERE vec_id >= 250),
       |b1x AS (
       |  SELECT e1.* FROM b1 e1
       |  JOIN (SELECT v, MIN(vec_id) AS vec_id FROM b1 GROUP BY v) k
       |    ON e1.vec_id = k.vec_id),
       |b1cand AS (
       |  SELECT DISTINCT a.vec_id AS vec1, c.vec_id AS vec2
       |  FROM b1x a
       |  JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bc ON bc.b = ba.b AND bc.bucket = ba.bucket
       |  JOIN b1x c ON c.vec_id = bc.vec_id AND c.vec_id < a.vec_id),
       |b1drop AS (
       |  SELECT DISTINCT p.vec1 FROM b1cand p
       |  JOIN e a ON a.vec_id = p.vec1
       |  JOIN e c ON c.vec_id = p.vec2
       |  WHERE $cosine),
       |b1surv AS (
       |  SELECT * FROM b1x WHERE vec_id NOT IN (SELECT vec1 FROM b1drop)),
       |b2x AS (
       |  SELECT e2.* FROM b2 e2
       |  JOIN (SELECT v, MIN(vec_id) AS vec_id FROM b2 GROUP BY v) k
       |    ON e2.vec_id = k.vec_id
       |  WHERE NOT EXISTS (SELECT 1 FROM b1surv s WHERE s.v = e2.v)),
       |acc AS (
       |  SELECT vec_id, TRUE AS from_index FROM b1surv
       |  UNION ALL SELECT vec_id, FALSE FROM b2x),
       |b2cand AS (
       |  SELECT DISTINCT a.vec_id AS vec1, c.vec_id AS vec2
       |  FROM b2x a
       |  JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bc ON bc.b = ba.b AND bc.bucket = ba.bucket
       |  JOIN acc c ON c.vec_id = bc.vec_id AND (c.from_index OR c.vec_id < a.vec_id)),
       |b2drop AS (
       |  SELECT DISTINCT p.vec1 FROM b2cand p
       |  JOIN e a ON a.vec_id = p.vec1
       |  JOIN e c ON c.vec_id = p.vec2
       |  WHERE $cosine)
       |SELECT vec_id, CAST(1 AS BIGINT) AS arrival_batch FROM b1surv
       |UNION ALL
       |SELECT vec_id, CAST(2 AS BIGINT) AS arrival_batch FROM b2x
       |WHERE vec_id NOT IN (SELECT vec1 FROM b2drop)""".stripMargin
  }

  /** The intake cap the semantic sweep demo runs at — LOW ON PURPOSE,
    * the [[graft.queries.MediaDedup]] SweepDemoCap discipline: at the
    * graded corpus (500 vectors, max bucket occupancy ~8) the
    * production per-bucket acceptor cap never truncates, so this row
    * ingests at maxCandidatesPerVector = 6 (per-bucket cap 2), making
    * it the one graded row where the semantic cap actually ENGAGES —
    * at sf0.01 the capped intake admits 16 vectors the uncapped rules
    * would have dropped. The SWEEP then runs at the production cap
    * (every bucket cold) and evicts the admitted near-dups. */
  private[graft] val SemanticSweepCap = 6

  /** A fresh [[graft.similarity.SemanticDedupIndex]] in `tmp` with the
    * embeddings ingested as two batches (vec_id < 250, then the rest) at
    * [[SemanticSweepCap]] — the standing index the semantic sweep and
    * its decision act on. */
  private def semanticSweepIntake(s: SparkSession, dir: String,
                                  tmp: java.io.File): graft.similarity.SemanticDedupIndex = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = new graft.similarity.SemanticDedupIndex(
      s, tmp.getAbsolutePath, threshold = 0.2,
      sketch = graft.similarity.SemanticSketch(
        maxCandidatesPerVector = SemanticSweepCap))
    idx.ingest(emb.filter(col("vec_id") < 250))
    idx.ingest(emb.filter(col("vec_id") >= 250))
    idx
  }

  /** Capped two-batch semantic intake then the full-recall SWEEP
    * ([[graft.similarity.SemanticDedupIndex.sweep]]) — the semantic
    * LSM story (ingest-fast at a hard candidate bound / compact-
    * thorough on the compaction cadence) graded end-to-end, the
    * embedding-space twin of q_media_sweep. Output = post-sweep
    * surviving vec_ids with their arrival batch; the oracle replays
    * the per-bucket-ranked capped intake, the sweep's escalation
    * ladder at the production cap, cosine verification and recursive
    * min-propagation. */
  def semanticSweep(s: SparkSession, dir: String): DataFrame =
    graft.load.Scratch.withScratch("graft_semsweep_q", dir) { tmp =>
      val idx = semanticSweepIntake(s, dir, tmp)
      idx.sweep()
      idx.vectors.select(col("vec_id"),
        when(col("vec_id") < 250, 1L).otherwise(2L).as("arrival_batch"))
        .localCheckpoint()
    }

  /** Threshold-0.2 cosine predicate between two `(v, nrm)` relations —
    * shared by the intake replay's drop rules and the sweep's verify. */
  private def semCos(a: String, c: String) =
    s"""list_reduce(list_transform(range(1, len($a.v) + 1), i -> $a.v[i] * $c.v[i]), (x, y) -> x + y)
       |        / nullif($a.nrm * $c.nrm, 0) >= 0.2""".stripMargin

  /** CTE body replaying the two-batch capped semantic intake at
    * [[SemanticSweepCap]] over the embeddings table — ends in `b1s` /
    * `b2s` (vec_id, v, nrm), with `buckets` (the three primary band
    * assignments) and `allb` (all five, incl. the two escalation bands)
    * in scope. Shared by [[semanticSweepSql]] and
    * [[semanticSweepDecisionSql]] — a factored val, not string surgery. */
  private val semanticIntakeCtes: String = {
    val perBucketCap = math.max(1, SemanticSweepCap / 3)
    def cos(a: String, c: String) = semCos(a, c)
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |projs AS (
       |  SELECT vec_id, tb.b AS b, tj.j AS j,
       |    list_reduce(list_transform(range(1, len(v) + 1),
       |      d -> v[d] * (CASE WHEN ('0x' || substr(md5('hp|' || CAST(tb.b AS VARCHAR) || '|' || CAST(tj.j AS VARCHAR) || '|' || CAST(d - 1 AS VARCHAR)), 1, 8))::UBIGINT % 2 = 1 THEN 1.0 ELSE -1.0 END)),
       |      (a, b) -> a + b) AS proj
       |  FROM e, range(0, 5) tb(b), range(0, 8) tj(j)),
       |allb AS (
       |  SELECT vec_id, b,
       |    CAST(SUM(CASE WHEN proj > 0 THEN (1 << j) ELSE 0 END) AS INTEGER) AS bucket
       |  FROM projs GROUP BY vec_id, b),
       |buckets AS (SELECT * FROM allb WHERE b < 3),
       |b1 AS (SELECT * FROM e WHERE vec_id < 250),
       |b2 AS (SELECT * FROM e WHERE vec_id >= 250),
       |b1x AS (
       |  SELECT e1.* FROM b1 e1
       |  JOIN (SELECT v, MIN(vec_id) AS vec_id FROM b1 GROUP BY v) k
       |    ON e1.vec_id = k.vec_id),
       |a1 AS (
       |  SELECT bk.vec_id, bk.b, bk.bucket,
       |    row_number() OVER (PARTITION BY bk.b, bk.bucket ORDER BY bk.vec_id) AS arn
       |  FROM buckets bk JOIN b1x USING (vec_id)),
       |b1cand AS (
       |  SELECT DISTINCT px.vec_id AS vec1, a.vec_id AS vec2
       |  FROM b1x px JOIN buckets p ON p.vec_id = px.vec_id
       |  JOIN a1 a ON a.b = p.b AND a.bucket = p.bucket
       |    AND a.vec_id < px.vec_id AND a.arn <= $perBucketCap),
       |b1drop AS (
       |  SELECT DISTINCT q.vec1 FROM b1cand q
       |  JOIN e a ON a.vec_id = q.vec1
       |  JOIN e c ON c.vec_id = q.vec2
       |  WHERE ${cos("a", "c")}),
       |b1s AS (SELECT * FROM b1x WHERE vec_id NOT IN (SELECT vec1 FROM b1drop)),
       |b2x AS (
       |  SELECT e2.* FROM b2 e2
       |  JOIN (SELECT v, MIN(vec_id) AS vec_id FROM b2 GROUP BY v) k
       |    ON e2.vec_id = k.vec_id
       |  WHERE NOT EXISTS (SELECT 1 FROM b1s s WHERE s.v = e2.v)),
       |a2 AS (
       |  SELECT acc.vec_id, acc.from_index, bk.b, bk.bucket,
       |    row_number() OVER (PARTITION BY bk.b, bk.bucket
       |      ORDER BY acc.vec_id, acc.from_index) AS arn
       |  FROM (SELECT vec_id, TRUE AS from_index FROM b1s
       |        UNION ALL SELECT vec_id, FALSE FROM b2x) acc
       |  JOIN buckets bk USING (vec_id)),
       |b2cand AS (
       |  SELECT DISTINCT px.vec_id AS vec1, a.vec_id AS vec2
       |  FROM b2x px JOIN buckets p ON p.vec_id = px.vec_id
       |  JOIN a2 a ON a.b = p.b AND a.bucket = p.bucket
       |    AND (a.from_index OR a.vec_id < px.vec_id)
       |    AND a.arn <= $perBucketCap),
       |b2drop AS (
       |  SELECT DISTINCT q.vec1 FROM b2cand q
       |  JOIN e a ON a.vec_id = q.vec1
       |  JOIN e c ON c.vec_id = q.vec2
       |  WHERE ${cos("a", "c")}),
       |b2s AS (SELECT * FROM b2x WHERE vec_id NOT IN (SELECT vec1 FROM b2drop))""".stripMargin
  }

  /** DuckDB replay of the capped intake + sweep. Intake: the
    * [[semanticDedupSql]] drop rules with the per-(band, bucket)
    * acceptor RANK cap of [[graft.similarity.SemanticDedupIndex
    * .cappedCandidatePairs]] — acceptors ranked by (vec_id,
    * from_index), only ranks <= cap form candidates
    * ([[semanticIntakeCtes]]). Sweep: exact-collapse by vector equality
    * (the vhash precondition documented at [[semanticDedupSql]]),
    * keeper bands through the
    * [[graft.operators.BandedLsh.oracleRefineCtes]] ladder at the
    * production cap with the two extra hyperplane bands (band ids 3,
    * 4) as escalation keys, cosine-verified keeper pairs + collapse
    * star edges, recursive min-propagation, keepers = component
    * minima. The projs CTE derives all five bands; intake uses only
    * b < 3, matching the engine's three-band sketch. */
  val semanticSweepSql: String = {
    def cos(a: String, c: String) = semCos(a, c)
    s"""WITH RECURSIVE $semanticIntakeCtes,
       |surv AS MATERIALIZED (
       |  SELECT vec_id, v, nrm FROM b1s UNION ALL SELECT vec_id, v, nrm FROM b2s),
       |sk AS (SELECT v, MIN(vec_id) AS gid FROM surv GROUP BY v),
       |scoll AS (SELECT s.vec_id, k.gid FROM surv s JOIN sk k ON s.v = k.v),
       |swkb AS (
       |  SELECT c.gid, CAST(c.gid AS VARCHAR) AS sig, ab.b AS band,
       |    CAST(ab.bucket AS VARCHAR) AS bv, e0.bucket AS e0, e1.bucket AS e1
       |  FROM scoll c
       |  JOIN allb ab ON ab.vec_id = c.gid AND ab.b < 3
       |  JOIN allb e0 ON e0.vec_id = c.gid AND e0.b = 3
       |  JOIN allb e1 ON e1.vec_id = c.gid AND e1.b = 4
       |  WHERE c.vec_id = c.gid),
       |${graft.operators.BandedLsh.oracleRefineCtes("sw",
          graft.operators.BandedLsh.BucketCap, 2, terminalStar = true)},
       |swcand AS (
       |  SELECT DISTINCT a.gid AS g1, b.gid AS g2
       |  FROM swkkept a JOIN swkkept b
       |    ON a.band = b.band AND a.bv = b.bv AND a.gid < b.gid
       |  UNION
       |  SELECT g1, g2 FROM swtstar),
       |swpairs AS (
       |  SELECT q.g1 AS d1, q.g2 AS d2 FROM swcand q
       |  JOIN e a ON a.vec_id = q.g1
       |  JOIN e c ON c.vec_id = q.g2
       |  WHERE ${cos("a", "c")}),
       |star AS (SELECT gid AS d1, vec_id AS d2 FROM scoll WHERE vec_id <> gid),
       |alledges AS (SELECT d1, d2 FROM swpairs UNION ALL SELECT d1, d2 FROM star),
       |edges AS (SELECT d1 AS ea, d2 AS eb FROM alledges
       |          UNION SELECT d2, d1 FROM alledges),
       |reach(node, r) AS (
       |    SELECT ea, ea FROM (SELECT DISTINCT ea FROM edges)
       |  UNION
       |    SELECT reach.node, g.eb FROM reach JOIN edges g ON reach.r = g.ea),
       |comp AS (SELECT node, MIN(r) AS grp FROM reach GROUP BY node)
       |SELECT s.vec_id,
       |  CASE WHEN s.vec_id < 250 THEN CAST(1 AS BIGINT)
       |       ELSE CAST(2 AS BIGINT) END AS arrival_batch
       |FROM surv s LEFT JOIN comp c ON s.vec_id = c.node
       |WHERE COALESCE(c.grp, s.vec_id) = s.vec_id""".stripMargin
  }

  /** The semantic sweep DECISION graded end-to-end — the DECIDE member
    * of the embedding-space LSM triad, the twin of q_sweep_decision:
    * the q_semantic_sweep intake (two batches at [[SemanticSweepCap]],
    * where the acceptor cap truncates and near-dups get admitted), then
    * [[graft.similarity.SemanticDedupIndex.sweepDecision]] over the
    * standing index — hot at the intake's per-bucket rank cap
    * (recommended), clean at the production budget. */
  def semanticSweepDecision(s: SparkSession, dir: String): DataFrame =
    graft.load.Scratch.withScratch("graft_semdec_q", dir) { tmp =>
      semanticSweepIntake(s, dir, tmp).sweepDecision(SemanticSweepCap).localCheckpoint()
    }

  /** Replay: the capped-intake survivors ([[semanticIntakeCtes]]), one
    * occupancy table over their stored primary-band assignments, both
    * reference-cap aggregate rows (per-bucket rank caps, the
    * [[graft.similarity.SemanticDedupIndex.sweepDecision]] translation
    * of the per-vector budgets). */
  val semanticSweepDecisionSql: String = {
    val intakePb = math.max(1, SemanticSweepCap / 3)
    val prodPb = math.max(1,
      graft.similarity.SemanticSketch().maxCandidatesPerVector / 3)
    s"""WITH $semanticIntakeCtes,
       |idx AS MATERIALIZED (SELECT vec_id FROM b1s
       |         UNION ALL SELECT vec_id FROM b2s),
       |pop AS (
       |  SELECT bk.b AS band, bk.bucket, count(*) AS pop
       |  FROM buckets bk JOIN idx USING (vec_id)
       |  GROUP BY bk.b, bk.bucket),
       |caps(cap_name, cap) AS (
       |  SELECT 'intake', $intakePb UNION ALL SELECT 'production', $prodPb)
       |SELECT c.cap_name, CAST(c.cap AS BIGINT) AS cap,
       |  CAST(COALESCE(SUM(CASE WHEN p.pop > c.cap THEN 1 END), 0) AS BIGINT)
       |    AS hot_buckets,
       |  CAST(COALESCE(SUM(CASE WHEN p.pop > c.cap THEN p.pop END), 0) AS BIGINT)
       |    AS hot_mass,
       |  CAST(COALESCE(MAX(p.pop), 0) AS BIGINT) AS max_pop,
       |  (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_rows,
       |  CAST(CASE WHEN COALESCE(SUM(CASE WHEN p.pop > c.cap THEN 1 END), 0) > 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS sweep_recommended
       |FROM caps c LEFT JOIN pop p ON TRUE
       |GROUP BY c.cap_name, c.cap""".stripMargin
  }

  /** IVF-probed ANN top-k, HASH-GRADED against a full DuckDB replay of
    * the engine-defined fit ([[annIvfSql]]): the sampled Lloyd fit is
    * deterministic (seed centroids = first k vectors by vec_id, sample
    * folds in vec_id order) and every floating-point reduction in the
    * engine is a left fold in index order, so the oracle reproduces the
    * centroids, assignments, and cosines BIT-EXACTLY — no tolerance.
    * Correctness vs brute force additionally pinned by IvfSpec's
    * nprobe=k test. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    // fit-or-load the persisted index: the fit (bounded sample collect) and
    // the corpus assign pass run once per corpus version, not per query
    val (model, index) = graft.similarity.IvfStore.indexFor(s, dir, k = 8, iters = 2)
    graft.similarity.IvfIndex.topKIndexed(
        index.filter(col("vec_id") >= 10),
        t(s, dir, "embeddings").filter(col("vec_id") < 10),
        model, k = 5, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** ANN recall curve, HASH-GRADED like q_ann_ivf against a DuckDB
    * replay of the deterministic fit ([[annRecallSql]]): recall@5 of the
    * persisted IVF index vs brute-force cosine at nprobe 1/2/4/8 — the
    * guard that index evolution cannot silently regress recall. IvfSpec
    * pins a hard floor; this query keeps the whole curve visible in the
    * graded artifact dump. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (model, index) = graft.similarity.IvfStore.indexFor(s, dir, k = 8, iters = 2)
    val corpus = index.filter(col("vec_id") >= 10)
    val qs = t(s, dir, "embeddings").filter(col("vec_id") < 10)
    // ONE corpus join scores every (query, neighbor) pair with its probe
    // rank (nprobe = k lists all cells); the approx side of the whole
    // curve then reads off the checkpointed base — a row is visible at
    // nprobe n iff cell_rank < n. The EXACT baseline deliberately does
    // NOT come from the index: it is the brute-force pass over the raw
    // embeddings table, so a stale/truncated index artifact degrades the
    // curve instead of degrading the baseline in lockstep with it.
    val qcells = graft.similarity.IvfIndex.probedCells(qs, model,
      nprobe = model.k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val base = corpus.join(broadcast(qcells), "cell")
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("query_id"), col("vec_id"), col("cell_rank"), col("cos"))
      .localCheckpoint()
    val exact = cosineTopK(s, dir)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
      .localCheckpoint()
    val nExact = exact.count()
    (Seq(1, 2, 4) :+ model.k).distinct.map { np =>
      val hits = base.filter(col("cell_rank") < np)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .join(exact, Seq("query_id", "vec_id")).count()
      (np.toLong, math.round(hits.toDouble / nExact * 10000) / 10000.0)
    }.toDF("nprobe", "recall_at_5")
  }

  /** The multi-band hyperplane sketch itself, oracle-graded per (vector,
    * band): the NATIVE `hyperplane_buckets` expression's output must
    * hash-match DuckDB's from-scratch md5-hyperplane reconstruction —
    * the tightest pin on the codegen'd evaluator (q_semantic_dedup only
    * validates buckets transitively through the drop rules). */
  def sketchBuckets(s: SparkSession, dir: String): DataFrame = {
    val sk = graft.similarity.SemanticSketch()
    graft.similarity.SemanticDedupIndex
      .withSketch(t(s, dir, "embeddings").select(col("vec_id"), col("embedding")), sk)
      .select(col("vec_id"), posexplode(col("buckets")))
      .select(col("vec_id"), col("pos").cast("long").as("band"),
        col("col").cast("long").as("bucket"))
  }

  val sketchBucketsSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |projs AS (
      |  SELECT vec_id, tb.b AS b, tj.j AS j,
      |    list_reduce(list_transform(range(1, len(v) + 1),
      |      d -> v[d] * (CASE WHEN ('0x' || substr(md5('hp|' || CAST(tb.b AS VARCHAR) || '|' || CAST(tj.j AS VARCHAR) || '|' || CAST(d - 1 AS VARCHAR)), 1, 8))::UBIGINT % 2 = 1 THEN 1.0 ELSE -1.0 END)),
      |      (a, b) -> a + b) AS proj
      |  FROM e, range(0, 3) tb(b), range(0, 8) tj(j))
      |SELECT vec_id, CAST(b AS BIGINT) AS band,
      |  CAST(SUM(CASE WHEN proj > 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
      |FROM projs GROUP BY vec_id, b""".stripMargin

  /** Model-scored filtering: a frozen linear classifier head (the shape
    * of fasttext-style quality / toxicity / language filters over
    * embeddings) applied as a STATELESS MAP — one codegen'd dot product
    * per row against a plan-constant weight vector, no join, no shuffle;
    * the filter prunes below-threshold docs right at the scan. Weights
    * are md5-derived (the hyperplane-sign convention the sketch oracle
    * already replays), standing in for trained parameters the engine
    * would load from a model artifact. */
  def classifierFilter(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val w = typedLit(Seq.tabulate(dim)(d =>
      graft.functions.Evaluators.hyperplaneSign("clf", 0, 0, d)))
    // no repartition: unlike the O(dim²)-ish cosine joins, one dot per
    // row is cheap enough that a shuffle purely for core utilization
    // would cost more than it buys — the filter prunes AT THE SCAN
    // (PlanSpec pins zero shuffles)
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("score_raw", dot(col("v"), w))
      .filter(col("score_raw") > 0)
      .select(col("vec_id"), col("label"),
        round(col("score_raw"), 4).as("score"))
  }

  val classifierFilterSql: String =
    """WITH w AS (SELECT list_transform(range(0, 64), d ->
      |    CASE WHEN ('0x' || substr(md5('clf|0|0|' || CAST(d AS VARCHAR)), 1, 8))::UBIGINT % 2 = 1
      |      THEN 1.0 ELSE -1.0 END) AS wv)
      |SELECT vec_id, CAST(label AS BIGINT) AS label, round(score_raw, 4) AS score FROM (
      |  SELECT vec_id, label,
      |    list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * w.wv[i]),
      |      (a, b) -> a + b) AS score_raw
      |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
      |  CROSS JOIN w)
      |WHERE score_raw > 0""".stripMargin

  /** Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al. 2009):
    * the lexical arm is the graded BM25 top-k ([[Corpus.bm25TopK]]), the
    * semantic arm ranks the embedding corpus against one query vector by
    * cosine, and fused score = Σ 1/(60 + rank) over the arms a doc appears
    * in. The training-data-pipeline use: rank candidate documents for a
    * benchmark probe where neither lexical nor embedding evidence alone is
    * trustworthy.
    *
    * Scale: each arm ends in a TakeOrderedAndProject top-k, so the fusion
    * join is k×k rows regardless of corpus size; the semantic arm
    * broadcasts the single query vector over an un-shuffled corpus scan
    * (same shape as q_cosine_topk). Absent-arm ranks surface as 0. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val k = 60
    val topN = 20
    val lex = Corpus.bm25TopK(s, dir)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val e = embWithNorm(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val semTop = e.filter(col("vec_id") > 0)
      .join(broadcast(q))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .orderBy(col("cos_raw").desc, col("vec_id")).limit(topN)
    val wSem = Window.orderBy(col("cos_raw").desc, col("vec_id"))
    val sem = semTop.withColumn("sem_rank", row_number().over(wSem).cast("long"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0L)).as("sem_rank"),
        (coalesce(lit(1.0) / (lit(k) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k) + col("sem_rank")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(topN)
    val wF = Window.orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("fused_rank", row_number().over(wF).cast("long"))
  }

  val rrfFusionSql: String =
    s"""WITH lex AS (
       |  SELECT doc_id, rank AS lex_rank FROM (${Corpus.bm25TopKSql})),
       |e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |sem AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(row_number() OVER (ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS sem_rank
       |  FROM (
       |    SELECT c.vec_id,
       |      list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]), (a, b) -> a + b)
       |        / (q.nrm * c.nrm) AS cos_raw
       |    FROM e c JOIN e q ON q.vec_id = 0 AND c.vec_id > 0)
       |  ORDER BY cos_raw DESC, vec_id LIMIT 20),
       |fused AS (
       |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    coalesce(lex_rank, 0) AS lex_rank, coalesce(sem_rank, 0) AS sem_rank,
       |    coalesce(1.0 / (60 + lex_rank), 0.0) + coalesce(1.0 / (60 + sem_rank), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT doc_id, lex_rank, sem_rank, rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  // DuckDB squared-distance / dot-product folds over DOUBLE[] columns.
  // list_transform(range...) preserves index order and list_reduce is a
  // left fold, so these are IEEE-op-for-op the engine's while-loops
  // (Evaluators.dotDouble, IvfIndex.sqdist): bit-identical results.
  private def sqd(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"d -> ($a[d]-$b[d])*($a[d]-$b[d])), (x,y) -> x+y)"
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"d -> $a[d]*$b[d]), (x,y) -> x+y)"

  /** Shared replay of the engine-defined IVF fit, used by BOTH ANN
    * oracles: two unrolled Lloyd iterations over the deterministic sample
    * (first 2048 vectors by vec_id; seed centroids the first 8), the full
    * corpus assignment with norms (`idx`), the query vectors with norms
    * (`qq`), and the query-to-centroid distances (`dq`). The ONE ordering
    * DuckDB does not give for free — Lloyd's per-cell sums, which the
    * engine accumulates in vec_id order — is forced with
    * `list(v ORDER BY vec_id)` + a left-fold elementwise add, so the
    * centroid means carry the same rounding as the Scala loop. Empty
    * cells keep the previous centroid (COALESCE = fitSample's
    * counts(c)==0 arm). Assignment/probe ties break on the lowest cell
    * index, matching `nearest`'s strict `<` and the probe sort on
    * (dist, cell). */
  private[queries] val ivfReplayCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 2048),
       |c0 AS (SELECT cell, v AS c FROM (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v FROM samp) WHERE cell < 8),
       |d1 AS (SELECT s.vec_id, s.v, c.cell, ${sqd("s.v", "c.c")} AS dist FROM samp s, c0 c),
       |a1 AS (SELECT vec_id, v, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1),
       |m1 AS (SELECT cell,
       |  list_reduce(list(v ORDER BY vec_id), (acc, x) ->
       |    list_transform(range(1, len(acc)+1), d -> acc[d] + x[d])) AS s,
       |  count(*) AS n FROM a1 GROUP BY cell),
       |c1 AS (SELECT c0.cell,
       |  COALESCE(list_transform(range(1, len(m1.s)+1), d -> m1.s[d] / m1.n), c0.c) AS c
       |  FROM c0 LEFT JOIN m1 ON m1.cell = c0.cell),
       |d2 AS (SELECT s.vec_id, s.v, c.cell, ${sqd("s.v", "c.c")} AS dist FROM samp s, c1 c),
       |a2 AS (SELECT vec_id, v, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1),
       |m2 AS (SELECT cell,
       |  list_reduce(list(v ORDER BY vec_id), (acc, x) ->
       |    list_transform(range(1, len(acc)+1), d -> acc[d] + x[d])) AS s,
       |  count(*) AS n FROM a2 GROUP BY cell),
       |c2 AS (SELECT c1.cell,
       |  COALESCE(list_transform(range(1, len(m2.s)+1), d -> m2.s[d] / m2.n), c1.c) AS c
       |  FROM c1 LEFT JOIN m2 ON m2.cell = c1.cell),
       |di AS (SELECT e.vec_id, e.v, c.cell, ${sqd("e.v", "c.c")} AS dist
       |  FROM e, c2 c WHERE e.vec_id >= 10),
       |idx AS (SELECT vec_id, v, cell, sqrt(${dotSql("v", "v")}) AS nrm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM di) WHERE rn = 1),
       |qq AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS qn FROM e WHERE vec_id < 10),
       |dq AS (SELECT q.vec_id AS query_id, q.v AS qv, q.qn, c.cell, ${sqd("q.v", "c.c")} AS dist
       |  FROM qq q, c2 c)""".stripMargin

  val annIvfSql: String =
    s"""$ivfReplayCtes,
       |probe AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn FROM dq) WHERE rn <= 2),
       |scored AS (SELECT p.query_id, i.vec_id,
       |  ${dotSql("p.qv", "i.v")} / (p.qn * i.nrm) AS cos
       |  FROM probe p JOIN idx i USING (cell))
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5""".stripMargin

  /** Exact replay of q_ann_recall over the same fit CTEs: every probed
    * cell keeps its rank (`rn` 1-based = Spark's 0-based cell_rank + 1),
    * the four curve arms each take per-query top-5 among rows visible at
    * that nprobe, hits join the brute-force exact top-5 (the inlined
    * [[cosineTopKSql]] — its inner WITH shadows this one's `e`), and the
    * recall value reproduces Scala's `math.round(h / n * 10000) / 1e4`
    * as `floor(h / n * 10000 + 0.5) / 10000.0` — same IEEE ops in the
    * same order, so the doubles are bit-identical, no tolerance. */
  val annRecallSql: String =
    s"""$ivfReplayCtes,
       |probe AS (SELECT query_id, qv, qn, cell, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn FROM dq) WHERE rn <= 8),
       |base AS (SELECT p.query_id, i.vec_id, p.rn AS cell_rn,
       |  ${dotSql("p.qv", "i.v")} / (p.qn * i.nrm) AS cos
       |  FROM probe p JOIN idx i USING (cell)),
       |exact AS (SELECT query_id, neighbor_id AS vec_id FROM ($cosineTopKSql)),
       |arms AS (SELECT * FROM (VALUES (1), (2), (4), (8)) t(np)),
       |sel AS (SELECT np, query_id, vec_id FROM (
       |  SELECT a.np, b.query_id, b.vec_id,
       |    row_number() OVER (PARTITION BY a.np, b.query_id ORDER BY b.cos DESC, b.vec_id) AS rn
       |  FROM arms a JOIN base b ON b.cell_rn <= a.np) WHERE rn <= 5),
       |hits AS (SELECT np, count(*) AS h FROM sel
       |  JOIN exact USING (query_id, vec_id) GROUP BY np),
       |nex AS (SELECT count(*) AS n FROM exact)
       |SELECT CAST(a.np AS BIGINT) AS nprobe,
       |  floor(CAST(COALESCE(h.h, 0) AS DOUBLE) / n * 10000 + 0.5) / 10000.0 AS recall_at_5
       |FROM arms a LEFT JOIN hits h ON h.np = a.np CROSS JOIN nex""".stripMargin

  /** Corpus CLUSTERING profile over the persisted IVF fit — the
    * "partition my corpus and describe each cluster" curation read of
    * the same artifact the ANN queries search: per cell, its size, its
    * share of the corpus, and its dominant label with purity (top-label
    * fraction). All counts integer-exact; the two shares are single
    * final divisions, so both engines agree bit-for-bit. On random
    * embeddings purity sits near chance (1/10 labels) — the instrument
    * grades the MACHINERY (deterministic assignment + argmax ties to
    * the smallest label), not a semantic claim about synthetic data. */
  def clusterProfile(s: SparkSession, dir: String): DataFrame = {
    val art = graft.similarity.IvfStore.artifactFor(s, dir, k = 8, iters = 2)
    val corpus = art.index.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    val lab = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val cl = corpus.join(lab, "vec_id")
    val byCell = cl.groupBy("cell").agg(count(lit(1)).as("n"))
    val byLabel = cl.groupBy("cell", "label").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("cell").orderBy(col("c").desc, col("label"))
    val top = byLabel.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cell"), col("label").as("top_label"), col("c").as("n_top"))
    val total = cl.agg(count(lit(1)).as("t"))
    byCell.join(top, "cell").crossJoin(broadcast(total))
      .select(col("cell"), col("n"),
        round(col("n").cast("double") / col("t").cast("double"), 4).as("share"),
        col("top_label"),
        round(col("n_top").cast("double") / col("n").cast("double"), 4)
          .as("purity"))
  }

  val clusterProfileSql: String =
    s"""$ivfReplayCtes,
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |cl AS (SELECT i.vec_id, CAST(i.cell AS BIGINT) AS cell, lab.label
       |  FROM idx i JOIN lab USING (vec_id)),
       |tot AS (SELECT count(*) AS t FROM cl),
       |bc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM cl GROUP BY cell),
       |bl AS (SELECT cell, label, count(*) AS c FROM cl GROUP BY cell, label),
       |tp AS (SELECT cell, label AS top_label, c AS n_top FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn
       |  FROM bl) WHERE rn = 1)
       |SELECT bc.cell, bc.n,
       |  round(CAST(bc.n AS DOUBLE) / tot.t, 4) AS share,
       |  tp.top_label,
       |  round(CAST(tp.n_top AS DOUBLE) / bc.n, 4) AS purity
       |FROM bc JOIN tp USING (cell), tot""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rrf_fusion" -> rrfFusion _,
    "q_cluster_profile" -> clusterProfile _,
    "q_classifier_filter" -> classifierFilter _,
    "q_cosine_topk" -> cosineTopK _,
    "q_embed_neardup" -> embedNearDup _,
    "q_semantic_dedup" -> semanticDedup _,
    "q_semantic_sweep" -> semanticSweep _,
    "q_semantic_sweep_decision" -> semanticSweepDecision _,
    "q_sketch_buckets" -> sketchBuckets _,
    "q_multimodal_meta" -> multimodalMeta _,
    "q_ann_ivf" -> annIvf _,
    "q_ann_recall" -> annRecall _)

  val oracles: Map[String, String] = Map(
    "q_rrf_fusion" -> rrfFusionSql,
    "q_cluster_profile" -> clusterProfileSql,
    "q_classifier_filter" -> classifierFilterSql,
    "q_cosine_topk" -> cosineTopKSql,
    "q_embed_neardup" -> embedNearDupSql,
    "q_semantic_dedup" -> semanticDedupSql,
    "q_semantic_sweep" -> semanticSweepSql,
    "q_semantic_sweep_decision" -> semanticSweepDecisionSql,
    "q_sketch_buckets" -> sketchBucketsSql,
    "q_multimodal_meta" -> multimodalMetaSql,
    "q_ann_ivf" -> annIvfSql,
    "q_ann_recall" -> annRecallSql)
}
