package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.similarity.{Sq8, Sq8Model}

/** SQ8 scalar-quantization queries over the embeddings table — the
  * compressed-index leg of the ANN family ([[VectorOps]]): code/digest
  * validation, reconstruction-error accounting, asymmetric brute-force
  * top-k over the compressed corpus, and IVF-probed search over a
  * compressed index (the IVF+SQ8 "ADC" stack modern vector stores run at
  * scale). Every query is HASH-GRADED: the fit is order-independent
  * min/max and the codec arithmetic is written as the same IEEE op
  * sequence in both engines, so the DuckDB replays are bit-exact.
  *
  * Scale: the corpus-side state a search touches is 1 byte/dim (SQ8) or
  * 1 byte/subspace (PQ) instead of 8 bytes/dim — and since IvfStore
  * layout 2 that is what the executed plan reads: codes and
  * reconstruction norms are persisted in the index artifact at build
  * time, and the compressed searches' scans never include the raw
  * vector column (PlanSpec pins the ReadSchema). At 100 TB of raw
  * embeddings the searchable index is ~12.5 TB (SQ8) / ~1.6 TB (PQ),
  * and the probe join's shuffle/broadcast volume shrinks by the same
  * factor. The fit's shuffle is `dim` rows per map partition (partial
  * min/max agg); encode/decode never shuffle.
  */
object Quantization {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_double(a, b)

  private val dim = 64

  private def fitModel(s: SparkSession, dir: String): Sq8Model = {
    val m = Sq8.fit(t(s, dir, "embeddings"))
    require(m.dim == dim, s"embeddings dim ${m.dim} != oracle dim $dim")
    m
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      // single-split test file → spread the per-row array math across cores
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Codes as comparable scalars (the driver's comparator can't sort raw
    * arrays — the q_json_roundtrip lesson): per-vector min/max/sum plus an
    * md5 digest of the comma-joined code string, which pins every single
    * code byte without shipping an array column. */
  def sq8Codes(s: SparkSession, dir: String): DataFrame = {
    val m = fitModel(s, dir)
    emb(s, dir)
      .withColumn("cs", Sq8.encode(m)(col("v")))
      .select(col("vec_id"),
        array_min(col("cs")).cast("long").as("code_min"),
        array_max(col("cs")).cast("long").as("code_max"),
        aggregate(col("cs"), lit(0L), (a, x) => a + x).as("code_sum"),
        md5(concat_ws(",", col("cs").cast("array<string>"))).as("code_digest"))
  }

  /** Per-vector reconstruction error of decode(encode(v)) — max and mean
    * absolute error over dimensions. Sq8Spec additionally pins the
    * theoretical bound (max_err ≤ step/2 per dimension). */
  def sq8Error(s: SparkSession, dir: String): DataFrame = {
    val m = fitModel(s, dir)
    emb(s, dir)
      .withColumn("dv", Sq8.decode(m)(Sq8.encode(m)(col("v"))))
      .withColumn("errs", zip_with(col("v"), col("dv"), (a, b) => abs(a - b)))
      .select(col("vec_id"),
        round(aggregate(col("errs"), lit(0.0), (acc, x) => greatest(acc, x)), 6)
          .as("max_err"),
        round(aggregate(col("errs"), lit(0.0), (acc, x) => acc + x) / lit(64.0), 6)
          .as("mean_err"))
  }

  /** Asymmetric brute-force top-k: full-precision query vectors scored
    * against the DEQUANTIZED corpus (what a production search does against
    * an SQ8 index before optional exact re-ranking). Same plan shape as
    * q_cosine_topk: query side broadcast, corpus never shuffled. */
  def sq8TopK(s: SparkSession, dir: String): DataFrame = {
    val m = fitModel(s, dir)
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .withColumn("qn", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("qn"))
    val c = e.filter(col("vec_id") >= 10)
      .withColumn("dv", Sq8.decode(m)(Sq8.encode(m)(col("v"))))
      .withColumn("dn", sqrt(dot(col("dv"), col("dv"))))
      .select(col("vec_id").as("neighbor_id"), col("dv"), col("dn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    c.join(broadcast(q))
      .withColumn("cos_raw", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 4).as("cos"))
  }

  /** IVF-probed search over the SQ8-compressed index — the full ADC stack:
    * the persisted IVF cell assignment restricts which corpus rows are
    * touched (nprobe=2 of 8 cells), and the touched rows are scored from
    * their PERSISTED 1-byte/dim code blobs ([[graft.similarity.IvfStore]]
    * layout 2) — the search-side scan reads (vec_id, cell, sq8_codes,
    * sq8_dn) and never the raw vector column (PlanSpec pins the
    * ReadSchema). At scale this is the plan you want: probe join volume
    * ∝ corpus/k·nprobe, bytes/row ∝ dim, not 8·dim — the searchable
    * state of a 100 TB double corpus is ~12.5 TB on disk AND in the
    * scan. Hash-graded against [[annSq8Sql]], which composes the proven
    * IVF fit replay with the SQ8 codec replay. */
  def annSq8(s: SparkSession, dir: String): DataFrame = {
    val art = graft.similarity.IvfStore.artifactFor(s, dir, k = 8, iters = 2)
    require(art.sq8.dim == dim, s"artifact sq8 dim ${art.sq8.dim} != $dim")
    val comp = art.index.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("cell"), col("sq8_codes"),
        col("sq8_dn").as("dn"))
      .withColumn("dv",
        Sq8.decode(art.sq8)(graft.similarity.Codes.unpack(col("sq8_codes"), dim)))
    val q = graft.similarity.IvfIndex
      .probedCells(t(s, dir, "embeddings").filter(col("vec_id") < 10), art.ivf,
        nprobe = 2)
      .drop("cell_rank")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    comp.join(broadcast(q), "cell")
      .withColumn("cos", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  // ---- DuckDB replays ------------------------------------------------
  // The codec is replayed from scratch: per-dim min/max (order-independent
  // aggregates → bit-identical to any Spark execution), then the same
  // affine encode/decode expressions. Dot products use the proven
  // list_reduce left-fold form (bit-identical to dot_double's while-loop).

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> $a[i]*$b[i]), (x,y) -> x+y)"

  /** Shared codec CTEs: e (vectors), sl (per-dim min/max as lists), codes
    * (SQ8 codes per vector), deq (dequantized reconstruction). */
  private val sqCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |st AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM e, range(1, $dim + 1) td(d) GROUP BY d),
       |sl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM st),
       |codes AS (SELECT vec_id, v,
       |  list_transform(range(1, $dim + 1), d ->
       |    CASE WHEN sl.mxs[d] = sl.mns[d] THEN 0
       |         ELSE CAST(GREATEST(0, LEAST(255,
       |           floor((v[d] - sl.mns[d]) / (sl.mxs[d] - sl.mns[d]) * 255.0 + 0.5)))
       |           AS INTEGER) END) AS cs
       |  FROM e, sl),
       |deq AS (SELECT vec_id, v, cs,
       |  list_transform(range(1, $dim + 1), d ->
       |    sl.mns[d] + cs[d] * ((sl.mxs[d] - sl.mns[d]) / 255.0)) AS dv
       |  FROM codes, sl)""".stripMargin

  val sq8CodesSql: String =
    s"""$sqCtes
       |SELECT vec_id,
       |  CAST(list_aggregate(cs, 'min') AS BIGINT) AS code_min,
       |  CAST(list_aggregate(cs, 'max') AS BIGINT) AS code_max,
       |  CAST(list_aggregate(cs, 'sum') AS BIGINT) AS code_sum,
       |  md5(array_to_string(list_transform(cs, c -> CAST(c AS VARCHAR)), ',')) AS code_digest
       |FROM codes""".stripMargin

  val sq8ErrorSql: String =
    s"""$sqCtes,
       |errs AS (SELECT vec_id,
       |  list_transform(range(1, $dim + 1), d -> abs(v[d] - dv[d])) AS es
       |  FROM deq)
       |SELECT vec_id,
       |  round(list_reduce(es, (a, b) -> GREATEST(a, b)), 6) AS max_err,
       |  round(list_reduce(es, (a, b) -> a + b) / 64.0, 6) AS mean_err
       |FROM errs""".stripMargin

  val sq8TopKSql: String =
    s"""$sqCtes,
       |qq AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS qn
       |  FROM e WHERE vec_id < 10),
       |cc AS (SELECT vec_id, dv, sqrt(${dotSql("dv", "dv")}) AS dn
       |  FROM deq WHERE vec_id >= 10)
       |SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dotSql("q.v", "c.dv")} / (q.qn * c.dn) AS cos_raw,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dotSql("q.v", "c.dv")} / (q.qn * c.dn) DESC, c.vec_id) AS rn
       |  FROM qq q, cc c)
       |WHERE rn <= 5""".stripMargin

  /** IVF fit replay ([[VectorOps.ivfReplayCtes]]: centroids c2, assigned
    * corpus idx, query cell distances dq) composed with the SQ8 codec over
    * the INDEX rows — encode/decode idx.v exactly as the engine does, then
    * probe nprobe=2 cells and rank by asymmetric cosine. */
  val annSq8Sql: String =
    s"""${VectorOps.ivfReplayCtes},
       |st AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM e, range(1, $dim + 1) td(d) GROUP BY d),
       |sl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM st),
       |cdx AS (SELECT i.vec_id, i.cell,
       |  list_transform(range(1, $dim + 1), d ->
       |    CASE WHEN sl.mxs[d] = sl.mns[d] THEN 0
       |         ELSE CAST(GREATEST(0, LEAST(255,
       |           floor((i.v[d] - sl.mns[d]) / (sl.mxs[d] - sl.mns[d]) * 255.0 + 0.5)))
       |           AS INTEGER) END) AS cs
       |  FROM idx i, sl),
       |ddx AS (SELECT c.vec_id, c.cell,
       |  list_transform(range(1, $dim + 1), d ->
       |    sl.mns[d] + c.cs[d] * ((sl.mxs[d] - sl.mns[d]) / 255.0)) AS dv
       |  FROM cdx c, sl),
       |ddn AS (SELECT vec_id, cell, dv, sqrt(${dotSql("dv", "dv")}) AS dn FROM ddx),
       |probe AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |  FROM dq) WHERE rn <= 2),
       |scored AS (SELECT p.query_id, i.vec_id,
       |  ${dotSql("p.qv", "i.dv")} / (p.qn * i.dn) AS cos
       |  FROM probe p JOIN ddn i USING (cell))
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5""".stripMargin

  // ---- Product quantization (m=8 subspaces × k=16 cells × 8 dims) ----

  private def pqModel(s: SparkSession, dir: String): graft.similarity.PqModel = {
    val m = graft.similarity.Pq.fit(
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    require(m.dim == dim, s"embeddings dim ${m.dim} != oracle dim $dim")
    m
  }

  /** PQ codes as comparable scalars (same digest discipline as
    * [[sq8Codes]]): every one of the m codes is pinned through the md5
    * digest, so the oracle's from-scratch per-subspace Lloyd replay must
    * agree on all of them. */
  def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val m = pqModel(s, dir)
    emb(s, dir)
      .withColumn("cs", graft.similarity.Pq.encode(m)(col("v")))
      .select(col("vec_id"),
        array_min(col("cs")).cast("long").as("code_min"),
        array_max(col("cs")).cast("long").as("code_max"),
        aggregate(col("cs"), lit(0L), (a, x) => a + x).as("code_sum"),
        md5(concat_ws(",", col("cs").cast("array<string>"))).as("code_digest"))
  }

  /** Per-vector PQ reconstruction error (max + mean absolute over
    * dimensions) — the quality ledger next to [[sq8Error]]: PQ trades
    * ~8× more compression than SQ8 for coarser reconstruction, and this
    * pair of graded queries makes the trade measurable. */
  def pqError(s: SparkSession, dir: String): DataFrame = {
    val m = pqModel(s, dir)
    emb(s, dir)
      .withColumn("dv",
        graft.similarity.Pq.decode(m)(graft.similarity.Pq.encode(m)(col("v"))))
      .withColumn("errs", zip_with(col("v"), col("dv"), (a, b) => abs(a - b)))
      .select(col("vec_id"),
        round(aggregate(col("errs"), lit(0.0), (acc, x) => greatest(acc, x)), 6)
          .as("max_err"),
        round(aggregate(col("errs"), lit(0.0), (acc, x) => acc + x) / lit(64.0), 6)
          .as("mean_err"))
  }

  /** Asymmetric top-k over the PQ-reconstructed corpus (full-precision
    * queries, m-byte corpus rows) — the scoring path is pure column ops
    * over the flattened-centroid plan literal, no UDF, no shuffle of the
    * corpus. */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val m = pqModel(s, dir)
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .withColumn("qn", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("qn"))
    val c = e.filter(col("vec_id") >= 10)
      .withColumn("dv",
        graft.similarity.Pq.decode(m)(graft.similarity.Pq.encode(m)(col("v"))))
      .withColumn("dn", sqrt(dot(col("dv"), col("dv"))))
      .select(col("vec_id").as("neighbor_id"), col("dv"), col("dn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    c.join(broadcast(q))
      .withColumn("cos_raw", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 4).as("cos"))
  }

  /** Per-query ADC lookup table over the PQ centroid literal: lut[s·k+c]
    * = query-subvector(s) · centroid(s, c), an m×k table of partial dot
    * products computed ONCE per query row (m·k·subDim = 1024 mults at
    * the defaults) on the broadcast side. Candidates then score as m
    * table lookups each instead of decode-to-64-doubles + 64-mult dot —
    * the classic asymmetric-distance-computation trick (Jégou et al.
    * 2011 §IV.A). Pure column ops over plan literals: no UDF, stays in
    * whole-stage codegen. */
  private[graft] def pqLut(m: graft.similarity.PqModel, qv: Column): Column = {
    val flat = typedLit(m.flat.toSeq)
    val k = m.k
    val subDim = m.subDim
    flatten(transform(sequence(lit(0), lit(m.m - 1)), s =>
      transform(sequence(lit(0), lit(k - 1)), c =>
        aggregate(sequence(lit(1), lit(subDim)), lit(0.0), (acc, d) =>
          acc + element_at(qv, s * lit(subDim) + d) *
            element_at(flat, (s * lit(k) + c) * lit(subDim) + d)))))
  }

  /** Candidate score from its m persisted codes against a query's
    * [[pqLut]]: a left fold of m lookups — per-candidate cost O(m), not
    * O(dim). The fold groups the dot product per subspace (partial dots
    * summed in subspace order), which the oracle mirrors exactly
    * ([[pqAdcDotSql]]) so the doubles stay bit-identical. */
  private[graft] def pqAdcDot(m: graft.similarity.PqModel, lut: Column,
                       codes: Column): Column =
    aggregate(sequence(lit(0), lit(m.m - 1)), lit(0.0), (acc, s) =>
      acc + element_at(lut, s * lit(m.k) + element_at(codes, s + lit(1)) + lit(1)))

  /** IVF-probed search over the PQ-coded index — FAISS's IndexIVFPQ
    * shape: the persisted cell assignment bounds which corpus rows a
    * query touches (nprobe=2 of 8), and touched rows are scored from
    * their PERSISTED m-byte PQ code blobs via the per-query ADC lookup
    * table ([[pqLut]]) — m array lookups per candidate, never a decode
    * to dim doubles, and the search-side scan reads (vec_id, cell,
    * pq_codes, pq_dn), NEVER the raw vector column (PlanSpec pins the
    * ReadSchema). The corpus-side search state is cell id + m bytes +
    * one norm per vector — the configuration that fits a 100 TB corpus's
    * search state in executor memory. Hash-graded by [[annPqSql]], which
    * composes the IVF fit replay with the prefixed PQ fit replay and the
    * same subspace-grouped dot. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val art = graft.similarity.IvfStore.artifactFor(s, dir, k = 8, iters = 2)
    val m = art.pq
    require(m.dim == dim, s"artifact pq dim ${m.dim} != $dim")
    val comp = art.index.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("cell"), col("pq_codes"),
        col("pq_dn").as("dn"))
      .withColumn("codes", graft.similarity.Codes.unpack(col("pq_codes"), m.m))
    val q = graft.similarity.IvfIndex
      .probedCells(t(s, dir, "embeddings").filter(col("vec_id") < 10), art.ivf,
        nprobe = 2)
      .drop("cell_rank")
      .withColumn("lut", pqLut(m, col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    comp.join(broadcast(q), "cell")
      .withColumn("cos",
        pqAdcDot(m, col("lut"), col("codes")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Binary quantization prescreen + exact re-rank — the 1-bit end of
    * the compression ladder (SQ8 8×, PQ 64×, BQ 512×: 64 dims → 8
    * bytes), the shape Qdrant/Milvus ship as "binary quantization":
    * sign bits against per-dim midrange thresholds ((min+max)/2 —
    * order-independent, so the fit is bit-stable under any
    * partitioning), packed into two 32-bit words so neither engine's
    * BIGINT arithmetic can overflow; candidates rank by Hamming
    * distance = two XOR+popcounts per pair (pure codegen arithmetic),
    * top-50 per query re-rank by exact cosine → top-5. Hamming ties
    * break on vec_id, so the shortlist is deterministic in both
    * engines. */
  def bqRerank(s: SparkSession, dir: String): DataFrame = {
    val m = fitModel(s, dir)
    val th = typedLit(m.mins.zip(m.maxs).map { case (a, b) => (a + b) / 2.0 }.toSeq)
    def bits32(v: Column, off: Int): Column =
      aggregate(sequence(lit(1), lit(32)), lit(0L), (acc, d) =>
        acc * lit(2L) + when(element_at(v, d + lit(off)) >
          element_at(th, d + lit(off)), lit(1L)).otherwise(lit(0L)))
    val e = emb(s, dir)
    val c = e.filter(col("vec_id") >= 10)
      .withColumn("b0", bits32(col("v"), 0))
      .withColumn("b1", bits32(col("v"), 32))
      .withColumn("vn", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 10)
      .withColumn("qn", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("qn"),
        bits32(col("v"), 0).as("qb0"), bits32(col("v"), 32).as("qb1"))
    val wh = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("vec_id"))
    val we = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(q))
      .withColumn("ham",
        bit_count(col("b0").bitwiseXOR(col("qb0"))) +
          bit_count(col("b1").bitwiseXOR(col("qb1"))))
      .withColumn("rn", row_number().over(wh))
      .filter(col("rn") <= 50)
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rn2", row_number().over(we))
      .filter(col("rn2") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("ham").cast("long").as("hamming"), round(col("cos"), 4).as("cos"))
  }

  /** BQ replay: midrange thresholds from the shared min/max CTEs, the
    * same two 32-bit left-fold packings, XOR+popcount Hamming, top-50 by
    * (hamming, vec_id), exact-cosine re-rank. */
  val bqRerankSql: String = {
    def bits32(src: String, off: Int): String =
      s"list_reduce(list_transform(range(1, 33), d -> " +
        s"CASE WHEN $src[d + $off] > (sl.mns[d + $off] + sl.mxs[d + $off]) / 2.0 " +
        s"THEN 1::BIGINT ELSE 0::BIGINT END), (a, x) -> a * 2 + x)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |st AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM e, range(1, $dim + 1) td(d) GROUP BY d),
       |sl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM st),
       |cc AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS vn,
       |  ${bits32("v", 0)} AS b0, ${bits32("v", 32)} AS b1
       |  FROM e, sl WHERE vec_id >= 10),
       |qq AS (SELECT vec_id AS query_id, v AS qv, sqrt(${dotSql("v", "v")}) AS qn,
       |  ${bits32("v", 0)} AS qb0, ${bits32("v", 32)} AS qb1
       |  FROM e, sl WHERE vec_id < 10),
       |short AS (SELECT query_id, vec_id, qv, qn, v, vn, ham FROM (
       |  SELECT q.query_id, c.vec_id, q.qv, q.qn, c.v, c.vn,
       |    bit_count(xor(c.b0, q.qb0)) + bit_count(xor(c.b1, q.qb1)) AS ham,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY bit_count(xor(c.b0, q.qb0)) + bit_count(xor(c.b1, q.qb1)), c.vec_id) AS rn
       |  FROM qq q, cc c) WHERE rn <= 50),
       |ex AS (SELECT query_id, vec_id, ham,
       |  ${dotSql("qv", "v")} / (qn * vn) AS cos FROM short)
       |SELECT query_id, vec_id AS neighbor_id, CAST(ham AS BIGINT) AS hamming,
       |  round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM ex) WHERE rn <= 5""".stripMargin
  }

  /** The two-batch frozen-model intake of q_incremental_ann,
    * q_ann_rebuild and q_codec_drift into a fresh `idx`: batch 1 = even
    * vec_ids (fits and freezes the models), batch 2 = odd vec_ids
    * encoded under them. */
  private def frozenTwoBatchIntake(s: SparkSession, dir: String)
                                  (idx: graft.similarity.VectorIndex): Unit = {
    val corpus = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") >= 10)
    idx.ingest(corpus.filter(col("vec_id") % 2 === 0))
    idx.ingest(corpus.filter(col("vec_id") % 2 =!= 0))
  }

  /** Incremental ANN index, graded end-to-end like q_incremental_dedup:
    * the corpus arrives in TWO batches appended to a scratch
    * [[graft.similarity.VectorIndex]] — the coarse centroids and SQ8
    * ranges freeze on batch 1 (even vec_ids), batch 2 encodes under the
    * frozen models, and the probed search runs over the accumulated code
    * table. Hash-graded by [[incrementalAnnSql]], which replays the
    * batch-1-only fits (IVF Lloyd sample AND SQ8 min/max restricted to
    * the first batch) and the all-rows encode — any drift in the freeze
    * discipline (e.g. an accidental refit on batch 2) mismatches. */
  def incrementalAnn(s: SparkSession, dir: String): DataFrame = {
    val embT = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    graft.load.Scratch.withScratch("graft_vi_q", dir) { tmp =>
      val idx = new graft.similarity.VectorIndex(s, tmp.getAbsolutePath)
      frozenTwoBatchIntake(s, dir)(idx)
      idx.search(embT.filter(col("vec_id") < 10), topK = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .localCheckpoint()
    }
  }

  /** Model-fit CTE chain over a named source relation: the IVF Lloyd
    * chain (2 rounds over the first-2048-by-vec_id sample, ending at
    * `c2`) — exactly [[graft.similarity.IvfIndex.fitSample]]. The
    * incremental replays fit over `e1` (batch 1 only — the FROZEN
    * models a second batch must not refit); the rebuild replay fits
    * over `ec` (the accumulated corpus). */
  private def lloydFitCtes(fitSrc: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ec AS (SELECT * FROM e WHERE vec_id >= 10),
       |e1 AS (SELECT * FROM ec WHERE vec_id % 2 = 0),
       |${lloydChainCtes(fitSrc)}""".stripMargin

  /** The bare Lloyd chain (no `WITH`/source prelude), every CTE name
    * prefixed with `p` so two independent fits can coexist in one
    * replay (q_rebuild_decision fits frozen-on-batch-1 AND
    * refit-on-the-accumulated-corpus side by side). The fitted
    * centroids land in `${p}c2`. */
  private def lloydChainCtes(fitSrc: String, p: String = ""): String = {
    val ew = "list_transform(range(1, len(acc)+1), d -> acc[d] + x[d])"
    s"""${p}samp AS (SELECT vec_id, v FROM $fitSrc ORDER BY vec_id LIMIT 2048),
       |${p}c0 AS (SELECT cell, v AS c FROM (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v FROM ${p}samp) WHERE cell < 8),
       |${p}d1 AS (SELECT s.vec_id, s.v, c.cell, ${sqdSql("s.v", "c.c")} AS dist FROM ${p}samp s, ${p}c0 c),
       |${p}a1 AS (SELECT vec_id, v, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM ${p}d1) WHERE rn = 1),
       |${p}m1 AS (SELECT cell, list_reduce(list(v ORDER BY vec_id), (acc, x) -> $ew) AS s,
       |  count(*) AS n FROM ${p}a1 GROUP BY cell),
       |${p}c1 AS (SELECT ${p}c0.cell,
       |  COALESCE(list_transform(range(1, len(${p}m1.s)+1), d -> ${p}m1.s[d] / ${p}m1.n), ${p}c0.c) AS c
       |  FROM ${p}c0 LEFT JOIN ${p}m1 ON ${p}m1.cell = ${p}c0.cell),
       |${p}d2 AS (SELECT s.vec_id, s.v, c.cell, ${sqdSql("s.v", "c.c")} AS dist FROM ${p}samp s, ${p}c1 c),
       |${p}a2 AS (SELECT vec_id, v, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM ${p}d2) WHERE rn = 1),
       |${p}m2 AS (SELECT cell, list_reduce(list(v ORDER BY vec_id), (acc, x) -> $ew) AS s,
       |  count(*) AS n FROM ${p}a2 GROUP BY cell),
       |${p}c2 AS (SELECT ${p}c1.cell,
       |  COALESCE(list_transform(range(1, len(${p}m2.s)+1), d -> ${p}m2.s[d] / ${p}m2.n), ${p}c1.c) AS c
       |  FROM ${p}c1 LEFT JOIN ${p}m2 ON ${p}m2.cell = ${p}c1.cell)""".stripMargin
  }

  private val frozenFitCtes: String = lloydFitCtes("e1")

  /** Assign/encode/search body shared by the incremental and rebuild
    * replays: corpus assignment under `c2`, SQ8 ranges fit over
    * `sq8Src`, codes + reconstructions, probed top-5. */
  private def sq8AnnBodySql(sq8Src: String): String =
    s"""di AS (SELECT ec.vec_id, ec.v, c.cell, ${sqdSql("ec.v", "c.c")} AS dist FROM ec, c2 c),
       |idx AS (SELECT vec_id, v, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM di) WHERE rn = 1),
       |st AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM $sq8Src, range(1, $dim + 1) td(d) GROUP BY d),
       |sl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM st),
       |cdx AS (SELECT i.vec_id, i.cell,
       |  list_transform(range(1, $dim + 1), d ->
       |    CASE WHEN sl.mxs[d] = sl.mns[d] THEN 0
       |         ELSE CAST(GREATEST(0, LEAST(255,
       |           floor((i.v[d] - sl.mns[d]) / (sl.mxs[d] - sl.mns[d]) * 255.0 + 0.5)))
       |           AS INTEGER) END) AS cs
       |  FROM idx i, sl),
       |ddx AS (SELECT c.vec_id, c.cell,
       |  list_transform(range(1, $dim + 1), d ->
       |    sl.mns[d] + c.cs[d] * ((sl.mxs[d] - sl.mns[d]) / 255.0)) AS dv
       |  FROM cdx c, sl),
       |ddn AS (SELECT vec_id, cell, dv, sqrt(${dotSql("dv", "dv")}) AS dn FROM ddx),
       |qq AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS qn FROM e WHERE vec_id < 10),
       |dq AS (SELECT q.vec_id AS query_id, q.v AS qv, q.qn, c.cell, ${sqdSql("q.v", "c.c")} AS dist
       |  FROM qq q, c2 c),
       |probe AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |  FROM dq) WHERE rn <= 2),
       |scored AS (SELECT p.query_id, i.vec_id,
       |  ${dotSql("p.qv", "i.dv")} / (p.qn * i.dn) AS cos
       |  FROM probe p JOIN ddn i USING (cell))
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5""".stripMargin

  /** Replay of the incremental build: frozen fits ([[lloydFitCtes]] over
    * batch 1), then assignment/codes over the whole corpus. */
  val incrementalAnnSql: String =
    s"$frozenFitCtes,\n${sq8AnnBodySql("e1")}"

  /** The REBUILD act, graded end-to-end: the same two-batch scratch
    * index as [[incrementalAnn]] — frozen batch-1 models — then
    * [[graft.similarity.VectorIndex.rebuild]] re-fits centroids and SQ8
    * ranges on the ACCUMULATED corpus, re-encodes every row (vec_ids
    * preserved), and atomically swaps the artifact in as a new
    * generation; the search runs against the SWAPPED artifact. The
    * oracle replays the REFIT (Lloyd sample and SQ8 min/max over the
    * whole corpus — `ec`, not `e1`), so serving stale codes under fresh
    * models, or failing to swap at all, hash-mismatches. */
  def annRebuild(s: SparkSession, dir: String): DataFrame = {
    val embT = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embT.filter(col("vec_id") >= 10)
    graft.load.Scratch.withScratch("graft_vr_q", dir) { tmp =>
      val idx = new graft.similarity.VectorIndex(s, tmp.getAbsolutePath)
      frozenTwoBatchIntake(s, dir)(idx)
      idx.rebuild(corpus)
      idx.search(embT.filter(col("vec_id") < 10), topK = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .localCheckpoint()
    }
  }

  /** Rebuild replay: the SAME fit and search chain, but every model fit
    * reads the accumulated corpus. */
  val annRebuildSql: String =
    s"${lloydFitCtes("ec")},\n${sq8AnnBodySql("ec")}"

  /** Acting on IVF cluster imbalance, graded end-to-end — the companion
    * act to the q_cluster_profile measurement: a scratch
    * [[graft.similarity.VectorIndex]] over the corpus, a population cap
    * of ceil(1.05 × corpus/k) (tight enough that the graded corpus HAS
    * hot cells — real splits run at every graded SF), then
    * [[graft.similarity.VectorIndex.splitHotCells]]: k=2 Lloyd refit
    * INSIDE each hot cell (first-2-distinct init; a cell with no two
    * distinct vectors is unsplittable and skipped), members reassigned
    * cell-locally between the two sub-centroids (codes untouched — the
    * SQ8 codec never rewrites), committed as a fresh generation. Output = the post-split profile
    * (cell, n_vecs, parent_cell), whose oracle replays the per-cell
    * 2-means and reassignment exactly; CellSplitSpec proves unsplit-cell
    * rows byte-identical, recall preserved, and the cap holding after. */
  def cellSplit(s: SparkSession, dir: String): DataFrame = {
    val embT = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embT.filter(col("vec_id") >= 10)
    graft.load.Scratch.withScratch("graft_cs_q", dir) { tmp =>
      val idx = new graft.similarity.VectorIndex(s, tmp.getAbsolutePath)
      idx.ingest(corpus)
      val n = idx.table.count()
      val cap = (n * 21 + 159) / 160 // integer ceil(n * 1.05 / 8)
      val parentOf = idx.splitHotCells(corpus, cap)
      val parentExpr = parentOf.foldLeft(col("cell")) {
        case (acc, (newId, parent)) =>
          when(col("cell") === newId, lit(parent)).otherwise(acc)
      }
      idx.table.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .select(col("cell").cast("long").as("cell"), col("n_vecs"),
          parentExpr.cast("long").as("parent_cell"))
        .localCheckpoint()
    }
  }

  /** Replay of the split act: the corpus fit + assignment, the cap, the
    * per-hot-cell 2-means (first-2048 sample, first-2 init, 2 rounds —
    * grouped by cell, so every hot cell refits in one chain), the
    * cell-local reassignment of ALL members, and the final profile.
    * Sub-cell 1 of the i-th hot cell (ranked by id) becomes cell 8+i. */
  val cellSplitSql: String = {
    val ew = "list_transform(range(1, len(acc)+1), d -> acc[d] + x[d])"
    def lloydRound(r: Int): String = {
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""sd$r AS (SELECT h.cell, h.vec_id, h.v, s.sub, ${sqdSql("h.v", "s.c")} AS dist
         |  FROM hsamp h JOIN $prev s USING (cell)),
         |sa$r AS (SELECT cell, vec_id, v, sub FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cell, vec_id ORDER BY dist, sub) AS rn
         |  FROM sd$r) WHERE rn = 1),
         |sm$r AS (SELECT cell, sub, list_reduce(list(v ORDER BY vec_id), (acc, x) -> $ew) AS sv,
         |  count(*) AS n FROM sa$r GROUP BY cell, sub),
         |s$r AS (SELECT p.cell, p.sub,
         |  COALESCE(list_transform(range(1, len(m.sv)+1), d -> m.sv[d] / m.n), p.c) AS c
         |  FROM $prev p LEFT JOIN sm$r m ON m.cell = p.cell AND m.sub = p.sub)""".stripMargin
    }
    s"""${lloydFitCtes("ec")},
       |di AS (SELECT ec.vec_id, ec.v, c.cell, ${sqdSql("ec.v", "c.c")} AS dist FROM ec, c2 c),
       |idx AS (SELECT vec_id, v, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM di) WHERE rn = 1),
       |bc AS (SELECT cell, count(*) AS n FROM idx GROUP BY cell),
       |tot AS (SELECT sum(n) AS t FROM bc),
       |capt AS (SELECT (t * 21 + 159) // 160 AS cap FROM tot),
       |hot AS (SELECT cell FROM bc, capt WHERE bc.n > capt.cap),
       |hm AS (SELECT i.cell, i.vec_id, i.v FROM idx i JOIN hot USING (cell)),
       |hsamp AS (SELECT cell, vec_id, v, r FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY vec_id) - 1 AS r
       |  FROM hm) WHERE r < 2048),
       |s00 AS (SELECT cell, rn - 1 AS sub, c FROM (
       |  SELECT cell, c, row_number() OVER (PARTITION BY cell ORDER BY r0) AS rn
       |  FROM (SELECT cell, v AS c, min(r) AS r0 FROM hsamp GROUP BY cell, v))
       |  WHERE rn <= 2),
       |spl AS (SELECT cell FROM s00 GROUP BY cell HAVING count(*) = 2),
       |hot2 AS (SELECT s.cell, row_number() OVER (ORDER BY s.cell) - 1 AS hix
       |  FROM spl s),
       |s0 AS (SELECT s00.* FROM s00 JOIN spl USING (cell)),
       |${lloydRound(1)},
       |${lloydRound(2)},
       |fd AS (SELECT h.cell, h.vec_id, s.sub, ${sqdSql("h.v", "s.c")} AS dist
       |  FROM hm h JOIN s2 s USING (cell)),
       |fa AS (SELECT cell, vec_id, sub FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cell, vec_id ORDER BY dist, sub) AS rn
       |  FROM fd) WHERE rn = 1),
       |remap AS (SELECT fa.vec_id,
       |  CASE WHEN fa.sub = 0 THEN fa.cell ELSE 8 + hot2.hix END AS ncell,
       |  fa.cell AS parent FROM fa JOIN hot2 USING (cell)),
       |allrows AS (SELECT i.vec_id,
       |  COALESCE(r.ncell, i.cell) AS cell,
       |  COALESCE(r.parent, i.cell) AS parent
       |  FROM idx i LEFT JOIN remap r USING (vec_id))
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(parent AS BIGINT) AS parent_cell
       |FROM allrows GROUP BY cell, parent""".stripMargin
  }

  /** The rebuild-decision instrument, graded: an incremental vector
    * index freezes its coarse centroids and SQ8 ranges on batch 1
    * ([[incrementalAnn]]), so the operational question is WHEN drift
    * has invalidated the frozen models. [[graft.similarity.VectorIndex]]
    * `codecDrift` measures the two symptoms — values escaping the
    * frozen quantizer ranges (clamped codes) and coarse-cell skew
    * (probe imbalance) — and this query grades both numbers end-to-end
    * through a real two-batch scratch index: out-of-range value count
    * over the WHOLE table against the batch-1 ranges, and the max
    * cell-occupancy share under the batch-1 centroids. The oracle
    * replays the frozen fits and both measurements exactly; in
    * production the same two numbers run per ingest and trip the
    * rebuild-vs-extend decision FAISS deployments make. */
  def codecDriftQ(s: SparkSession, dir: String): DataFrame = {
    val embT = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // the measurement reads only the FROZEN MODELS of the two-batch
    // index ([[frozenTwoBatchIntake]]), never its code table
    graft.load.Scratch.withScratch("graft_cd_q", dir) { tmp =>
      val idx = new graft.similarity.VectorIndex(s, tmp.getAbsolutePath)
      frozenTwoBatchIntake(s, dir)(idx)
      val (ivf, sq8) = idx.models.get
      val mins = typedLit(sq8.mins.toSeq)
      val maxs = typedLit(sq8.maxs.toSeq)
      val v = col("embedding").cast("array<double>")
      val oor = embT.select(
          aggregate(zip_with(v, sequence(lit(1), lit(sq8.dim)), (x, i) =>
            when(x < element_at(mins, i) || x > element_at(maxs, i), 1)
              .otherwise(0)),
            lit(0), (a, x) => a + x).as("oor"))
        .agg(sum(col("oor")).cast("long").as("n_oor"),
          org.apache.spark.sql.functions.count(lit(1)).as("n_vecs"))
      val cells = graft.similarity.IvfIndex.assign(embT, ivf)
        .groupBy("cell")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .agg(max(col("n")).as("max_cell_n"), sum(col("n")).as("n_assigned"))
      oor.crossJoin(cells) // two one-row frames
        .select(col("n_vecs"), col("n_oor"),
          round(col("n_oor").cast("double") /
            (col("n_vecs") * lit(sq8.dim)).cast("double"), 6).as("oor_frac"),
          col("max_cell_n"),
          round(col("max_cell_n").cast("double") /
            col("n_assigned").cast("double"), 6).as("max_cell_share"))
        .localCheckpoint()
    }
  }

  /** Drift replay: the frozen fits, then both measurements over the
    * whole table — out-of-range count vs the batch-1 SQ8 ranges, and
    * max occupancy share under the batch-1 centroids. */
  val codecDriftSql: String =
    s"""$frozenFitCtes,
       |st AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM e1, range(1, $dim + 1) td(d) GROUP BY d),
       |sl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM st),
       |oorl AS (SELECT e.vec_id,
       |  list_reduce(list_transform(range(1, $dim + 1), d ->
       |    CASE WHEN e.v[d] < sl.mns[d] OR e.v[d] > sl.mxs[d] THEN 1 ELSE 0 END),
       |    (a, b) -> a + b) AS oor
       |  FROM e, sl),
       |ot AS (SELECT CAST(sum(oor) AS BIGINT) AS n_oor,
       |  CAST(count(*) AS BIGINT) AS n_vecs FROM oorl),
       |dall AS (SELECT e.vec_id, c.cell, ${sqdSql("e.v", "c.c")} AS dist FROM e, c2 c),
       |asg AS (SELECT vec_id, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |  FROM dall) WHERE rn = 1),
       |cn AS (SELECT cell, count(*) AS n FROM asg GROUP BY cell),
       |cs AS (SELECT CAST(max(n) AS BIGINT) AS max_cell_n,
       |  CAST(sum(n) AS BIGINT) AS n_assigned FROM cn)
       |SELECT n_vecs, n_oor,
       |  round(CAST(n_oor AS DOUBLE) / (n_vecs * 64), 6) AS oor_frac,
       |  max_cell_n,
       |  round(CAST(max_cell_n AS DOUBLE) / n_assigned, 6) AS max_cell_share
       |FROM ot, cs""".stripMargin

  /** The vector family's LSM triad GATED — measure → decide → act as
    * one verb ([[graft.similarity.VectorIndex.maintainIfDrifted]]),
    * graded with the q_sweep_decision two-row shape: a DRIFTED store
    * (models frozen on the original corpus, then a +4.0-shifted copy
    * ingested under them — every shifted component escapes the frozen
    * SQ8 ranges) where the verb must FIRE (rebuild commits generation
    * 0, post-act out-of-range fraction drops to 0), and a CLEAN store
    * (one batch, models fit the whole corpus) where it must NO-OP
    * (artifact generation unchanged at -1, no write). The oracle
    * replays BOTH fits (frozen-on-originals and
    * refit-on-the-accumulated-corpus Lloyd chains side by side), both
    * out-of-range measurements, the frozen-centroid occupancy share,
    * the 0.05 decision itself, and the post-act profile — a verb that
    * fails to fire, fires on the clean store, or serves stale codes
    * after firing hash-mismatches. MaintainSpec proves artifact
    * idempotence (a second call commits nothing) and the split leg. */
  def rebuildDecision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val embT = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embT.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val shifted = corpus.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x + lit(4.0)).as("embedding"))
    val allRows = corpus.unionByName(shifted)
    def f6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // the two case stores: drifted = models frozen on the original
    // corpus with the +4.0-shifted copy ingested under them, clean =
    // one batch fitting the whole corpus
    graft.load.Scratch.withScratch("graft_rd_q", dir) { tmp =>
      def caseRow(name: String, sub: String,
                  intake: graft.similarity.VectorIndex => Unit) = {
        val idx = new graft.similarity.VectorIndex(s,
          new java.io.File(tmp, sub).getAbsolutePath)
        intake(idx)
        val st = idx.maintainIfDrifted(allRows, oorMax = 0.05)
        val (oorPost, _) = idx.codecDrift(allRows)
        val maxPopPost = idx.table.groupBy("cell")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
          .agg(max(col("n"))).head.getLong(0)
        (name, f6(st.oorFrac), f6(st.maxCellShare),
          if (st.rebuilt) 1L else 0L, st.genBefore.toLong,
          st.genAfter.toLong, f6(oorPost), maxPopPost)
      }
      // the two case arms are INDEPENDENT (private stores in disjoint
      // scratch subdirs) — overlap
      // them (guide §2.6) so the clean arm's jobs back-fill the executor
      // threads the drifted arm's tiny stages leave idle; each arm keeps
      // its own thread-confined Checkpoints scope
      val cleanF = scala.concurrent.Future {
        graft.operators.Checkpoints.scoped(
          caseRow("clean", "c", _.ingest(allRows)))
      }(scala.concurrent.ExecutionContext.global)
      val drifted = caseRow("drifted", "d", { i =>
        i.ingest(corpus); i.ingest(shifted) })
      val clean = scala.concurrent.Await.result(
        cleanF, scala.concurrent.duration.Duration.Inf)
      Seq(drifted, clean).toDF("case_name", "oor_frac", "max_cell_share",
        "rebuild_fired", "gen_before", "gen_after", "oor_frac_post",
        "max_pop_post")
    }
  }

  /** Replay of the gated verb: both Lloyd fits (z = frozen on the
    * originals, r = refit on the accumulated corpus), both SQ8 range
    * sets, the out-of-range fractions, the frozen-centroid share, the
    * 0.05 gate, and post-act numbers selected BY the replayed decision
    * (fired → refit profile, not fired → frozen profile). */
  val rebuildDecisionSql: String = {
    def oorOver(sl: String): String =
      s"""SELECT CAST(sum(list_reduce(list_transform(range(1, $dim + 1), d ->
         |    CASE WHEN cu.v[d] < $sl.mns[d] OR cu.v[d] > $sl.mxs[d] THEN 1 ELSE 0 END),
         |    (a, b) -> a + b)) AS DOUBLE) / (count(*) * $dim) AS f
         |  FROM cu, $sl""".stripMargin
    def profileUnder(p: String): String =
      s"""SELECT cell, count(*) AS n FROM (
         |  SELECT vec_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cell) AS rn FROM (
         |      SELECT cu.vec_id, c.cell, ${sqdSql("cu.v", "c.c")} AS dist
         |      FROM cu, ${p}c2 c)) WHERE rn = 1) GROUP BY cell""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ec AS (SELECT * FROM e WHERE vec_id >= 10),
       |cu AS (SELECT * FROM ec UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x + 4.0) AS v FROM ec),
       |${lloydChainCtes("ec", "z")},
       |${lloydChainCtes("cu", "r")},
       |zst AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM ec, range(1, $dim + 1) td(d) GROUP BY d),
       |zsl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM zst),
       |rst AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM cu, range(1, $dim + 1) td(d) GROUP BY d),
       |rsl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM rst),
       |zoor AS (${oorOver("zsl")}),
       |roor AS (${oorOver("rsl")}),
       |zcn AS (${profileUnder("z")}),
       |rcn AS (${profileUnder("r")}),
       |zprof AS (SELECT CAST(max(n) AS BIGINT) AS max_pop,
       |  CAST(max(n) AS DOUBLE) / sum(n) AS share FROM zcn),
       |rprof AS (SELECT CAST(max(n) AS BIGINT) AS max_pop,
       |  CAST(max(n) AS DOUBLE) / sum(n) AS share FROM rcn)
       |SELECT 'drifted' AS case_name,
       |  floor(zoor.f * 1000000 + 0.5) / 1000000.0 AS oor_frac,
       |  floor(zprof.share * 1000000 + 0.5) / 1000000.0 AS max_cell_share,
       |  CAST(CASE WHEN zoor.f > 0.05 THEN 1 ELSE 0 END AS BIGINT) AS rebuild_fired,
       |  CAST(-1 AS BIGINT) AS gen_before,
       |  CAST(CASE WHEN zoor.f > 0.05 THEN 0 ELSE -1 END AS BIGINT) AS gen_after,
       |  floor((CASE WHEN zoor.f > 0.05 THEN roor.f ELSE zoor.f END) * 1000000 + 0.5)
       |    / 1000000.0 AS oor_frac_post,
       |  CASE WHEN zoor.f > 0.05 THEN rprof.max_pop ELSE zprof.max_pop END AS max_pop_post
       |FROM zoor, roor, zprof, rprof
       |UNION ALL
       |SELECT 'clean',
       |  floor(roor.f * 1000000 + 0.5) / 1000000.0,
       |  floor(rprof.share * 1000000 + 0.5) / 1000000.0,
       |  CAST(CASE WHEN roor.f > 0.05 THEN 1 ELSE 0 END AS BIGINT),
       |  CAST(-1 AS BIGINT),
       |  CAST(CASE WHEN roor.f > 0.05 THEN 0 ELSE -1 END AS BIGINT),
       |  floor(roor.f * 1000000 + 0.5) / 1000000.0,
       |  rprof.max_pop
       |FROM roor, rprof""".stripMargin
  }

  /** Filtered compressed search — the multi-tenant / metadata-predicate
    * shape every production vector store serves: each query ranks ONLY
    * candidates satisfying its predicate (here `label = query_id % 3` —
    * a per-query tenant partition). The index row carries the metadata
    * column next to the codes (IvfStore layout 4), so the filter
    * applies inside the probed bucket join with NO join back to the raw
    * corpus: the scan reads (vec_id, cell, label, sq8_codes, sq8_dn) —
    * codes + predicate column only, raw vectors excluded
    * (PlanSpec-pinned). A constant predicate would push to the parquet
    * scan; the per-query one is a bucket-local join predicate applied
    * before scoring, so filtered selectivity cuts scoring work
    * proportionally. Hash-graded by [[annFilteredSql]]. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val art = graft.similarity.IvfStore.artifactFor(s, dir, k = 8, iters = 2)
    require(art.sq8.dim == dim, s"artifact sq8 dim ${art.sq8.dim} != $dim")
    val comp = art.index.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("cell"), col("label"), col("sq8_codes"),
        col("sq8_dn").as("dn"))
      .withColumn("dv",
        Sq8.decode(art.sq8)(graft.similarity.Codes.unpack(col("sq8_codes"), dim)))
    val q = graft.similarity.IvfIndex
      .probedCells(t(s, dir, "embeddings").filter(col("vec_id") < 10), art.ivf,
        nprobe = 2)
      .drop("cell_rank")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    comp.join(broadcast(q), "cell")
      .filter(col("label") === (col("query_id") % 3).cast("int"))
      .withColumn("cos", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label"), round(col("cos"), 4).as("cos"))
  }

  /** Residual-encoded IVF+PQ — the encoding FAISS's IndexIVFPQ actually
    * uses (Jégou et al. 2011 §V): PQ codes the RESIDUAL v − centroid
    * (cell), whose variance is what the coarse quantizer leaves behind,
    * so the same m bytes reconstruct tighter than raw-vector PQ.
    * Scoring decomposes exactly: q·(c + r̂) = q·c (one per probed
    * (query, cell), computed on the broadcast side from the centroid
    * literal) + Σₛ lut_r[s][codeₛ] (the residual ADC lookups) — the
    * IVFADC precomputation. The search scan reads (vec_id, cell,
    * pqr_codes, pqr_dn) — codes persisted at build time, raw vector
    * column excluded (PlanSpec-pinned). Hash-graded by [[annPqrSql]]:
    * the oracle replays the full-corpus assignment, the residual
    * subtraction, the residual per-subspace Lloyd fits, and the
    * decomposed score with the same fold tree. */
  def annPqResidual(s: SparkSession, dir: String): DataFrame = {
    val art = graft.similarity.IvfStore.artifactFor(s, dir, k = 8, iters = 2)
    val m = art.pqr
    require(m.dim == dim, s"artifact pqr dim ${m.dim} != $dim")
    val ivfFlat = typedLit(art.ivf.centroids.flatten.toSeq)
    val comp = art.index.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("cell"), col("pqr_codes"),
        col("pqr_dn").as("dn"))
      .withColumn("codes", graft.similarity.Codes.unpack(col("pqr_codes"), m.m))
    val q = graft.similarity.IvfIndex
      .probedCells(t(s, dir, "embeddings").filter(col("vec_id") < 10), art.ivf,
        nprobe = 2)
      .drop("cell_rank")
      .withColumn("lut", pqLut(m, col("qv")))
      .withColumn("qc", dot(col("qv"),
        slice(ivfFlat, col("cell") * lit(dim) + lit(1), lit(dim))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    comp.join(broadcast(q), "cell")
      .withColumn("cos",
        (col("qc") + pqAdcDot(m, col("lut"), col("codes"))) /
          (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** IVF+OPQ search — the production form of the dimension-balanced
    * codec ([[opqError]]): the artifact persists OPQ codes and
    * permuted-space reconstruction norms at build time (IvfStore layout
    * 5), and the search scores candidates from codes via the ADC lookup
    * table built over the PERMUTED query vector — scoring never leaves
    * permuted space (dot products are permutation-invariant in value,
    * and the persisted dn is the permuted-order fold, so both engines
    * agree bit-for-bit). The scan reads (vec_id, cell, opq_codes,
    * opq_dn); the raw vector column stays out of the search path
    * (PlanSpec pins the ReadSchema). Hash-graded by [[annOpqSql]]:
    * IVF fit replay + permutation replay + permuted-space PQ fit replay
    * + the subspace-grouped ADC dot over the permuted query. */
  def annOpq(s: SparkSession, dir: String): DataFrame = {
    val art = graft.similarity.IvfStore.artifactFor(s, dir, k = 8, iters = 2)
    val m = art.pqo
    require(m.dim == dim, s"artifact pqo dim ${m.dim} != $dim")
    val comp = art.index.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("cell"), col("opq_codes"),
        col("opq_dn").as("dn"))
      .withColumn("codes", graft.similarity.Codes.unpack(col("opq_codes"), m.m))
    val q = graft.similarity.IvfIndex
      .probedCells(t(s, dir, "embeddings").filter(col("vec_id") < 10), art.ivf,
        nprobe = 2)
      .drop("cell_rank")
      .withColumn("lut", pqLut(m, graft.similarity.Opq.permute(art.opq)(col("qv"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    comp.join(broadcast(q), "cell")
      .withColumn("cos",
        pqAdcDot(m, col("lut"), col("codes")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Two-stage PQ deployment shape — how production stacks run PQ: a
    * cheap shortlist over the WHOLE compressed corpus (ADC from m-byte
    * codes, top-50 per query), then an exact full-precision re-rank of
    * only the shortlist (top-5). The expensive raw-vector read touches
    * 50 rows per query instead of the corpus; the shortlist side is a
    * broadcast join against the code columns only. PqSpec pins the
    * recall law (re-rank of top-50 recovers ≥0.8 of the exact top-5);
    * this query makes the pipeline itself hash-graded. */
  def pqRerank(s: SparkSession, dir: String): DataFrame = {
    val art = graft.similarity.IvfStore.artifactFor(s, dir, k = 8, iters = 2)
    val m = art.pq
    require(m.dim == dim, s"artifact pq dim ${m.dim} != $dim")
    val cand = art.index.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("pq_codes"), col("pq_dn").as("dn"))
      .withColumn("codes", graft.similarity.Codes.unpack(col("pq_codes"), m.m))
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .withColumn("qn", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("qn"))
      .withColumn("lut", pqLut(m, col("qv")))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("cos_a").desc, col("vec_id"))
    val short = cand.join(broadcast(q))
      .withColumn("cos_a",
        pqAdcDot(m, col("lut"), col("codes")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(wa))
      .filter(col("rn") <= 50)
      .select(col("query_id"), col("vec_id"), col("qv"), col("qn"))
    val raw = e.filter(col("vec_id") >= 10)
      .withColumn("vn", sqrt(dot(col("v"), col("v"))))
    val we = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    broadcast(short).join(raw, "vec_id")
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rn", row_number().over(we))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** OPQ-permuted PQ reconstruction quality — the dimension-balancing
    * upgrade on the compression ladder ([[graft.similarity.Opq]]): rank
    * dimensions by sample variance, snake-deal them to the m subspaces,
    * fit/encode plain PQ in the permuted space, inverse-permute the
    * reconstruction, and measure per-vector error in the ORIGINAL space.
    * The digest pins every permuted code, so the oracle's from-scratch
    * replay must agree on the variance fold, the ranking, the snake
    * deal, AND all m per-subspace Lloyd fits over permuted vectors.
    * OpqSpec pins the balancing law itself (on energy-concentrated
    * synthetic data OPQ beats contiguous PQ) — this query grades the
    * pipeline on the shipped corpus. */
  def opqError(s: SparkSession, dir: String): DataFrame = {
    val embT = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val p = graft.similarity.Opq.fitPermutation(embT)
    val permuted = embT.select(col("vec_id"),
      graft.similarity.Opq.permute(p)(col("embedding").cast("array<double>"))
        .as("embedding"))
    val m = graft.similarity.Pq.fit(permuted)
    emb(s, dir)
      .withColumn("pv", graft.similarity.Opq.permute(p)(col("v")))
      .withColumn("cs", graft.similarity.Pq.encode(m)(col("pv")))
      .withColumn("dv", graft.similarity.Opq.inversePermute(p)(
        graft.similarity.Pq.decode(m)(col("cs"))))
      .withColumn("errs", zip_with(col("v"), col("dv"), (a, b) => abs(a - b)))
      .select(col("vec_id"),
        round(aggregate(col("errs"), lit(0.0), (acc, x) => greatest(acc, x)), 6)
          .as("max_err"),
        round(aggregate(col("errs"), lit(0.0), (acc, x) => acc + x) / lit(64.0), 6)
          .as("mean_err"),
        md5(concat_ws(",", col("cs").cast("array<string>"))).as("code_digest"))
  }

  /** The OPQ permutation replay (composable fragment — assumes CTE `e`
    * (vec_id, v) is already defined): the variance fold in vec_id order
    * (list_reduce over ordered lists — the engine's sequential driver
    * loop), the (variance DESC, dim) ranking, the snake deal, ending in
    * `operm` (permuted-order dim list), `oinv` (inverse positions) and
    * `opv` (the permuted vectors). */
  private val opqPermCtes: String =
    s"""osamp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 2048),
       |on_ AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM osamp),
       |ocol AS (SELECT d, list(v[d] ORDER BY vec_id) AS xs
       |  FROM osamp, range(1, $dim + 1) td(d) GROUP BY d),
       |omean AS (SELECT d, xs, list_reduce(xs, (a, b) -> a + b) / on_.n AS mu
       |  FROM ocol, on_),
       |ovar AS (SELECT d,
       |  list_reduce(list_transform(xs, x -> (x - mu) * (x - mu)), (a, b) -> a + b)
       |    / on_.n AS vr
       |  FROM omean, on_),
       |oord AS (SELECT d, row_number() OVER (ORDER BY vr DESC, d) - 1 AS pos FROM ovar),
       |ogrp AS (SELECT d, pos,
       |  CASE WHEN (pos // 8) % 2 = 0 THEN pos % 8 ELSE 7 - (pos % 8) END AS s
       |  FROM oord),
       |opos AS (SELECT d, s, s * 8 + row_number() OVER (PARTITION BY s ORDER BY pos) AS pj
       |  FROM ogrp),
       |operm AS (SELECT list(d ORDER BY s, pj) AS perm FROM opos),
       |oinv AS (SELECT list(pj ORDER BY d) AS inv FROM opos),
       |opv AS (SELECT e.vec_id, list_transform(operm.perm, pd -> e.v[pd]) AS v
       |  FROM e, operm)""".stripMargin

  /** OPQ codec replay: permutation fragment + the permuted-space PQ fit
    * via the proven prefixed chain + the inverse-permuted reconstruction
    * error. */
  val opqErrorSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$opqPermCtes,
       |${pqFit("o_", "opv")},
       |orec AS (SELECT r.vec_id, list_transform(oinv.inv, pj -> r.dv[pj]) AS dv
       |  FROM o_rv r, oinv),
       |ocl AS (SELECT vec_id, list(code ORDER BY s) AS cs FROM o_pq GROUP BY vec_id),
       |oerrs AS (SELECT e.vec_id,
       |  list_transform(range(1, $dim + 1), d -> abs(e.v[d] - r.dv[d])) AS es
       |  FROM e JOIN orec r USING (vec_id))
       |SELECT er.vec_id,
       |  round(list_reduce(es, (a, b) -> GREATEST(a, b)), 6) AS max_err,
       |  round(list_reduce(es, (a, b) -> a + b) / 64.0, 6) AS mean_err,
       |  md5(array_to_string(list_transform(cl.cs, c -> CAST(c AS VARCHAR)), ',')) AS code_digest
       |FROM oerrs er JOIN ocl cl USING (vec_id)""".stripMargin

  private def sqdSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"d -> ($a[d]-$b[d])*($a[d]-$b[d])), (x,y) -> x+y)"

  /** Subspace-grouped dot product — the oracle twin of the engine's ADC
    * path ([[pqLut]] + [[pqAdcDot]]): partial dots folded per 8-dim
    * subspace, the 8 partials folded in subspace order. The grouping
    * (not just the values) must match the engine's op tree for the
    * doubles to stay bit-identical. */
  private def pqDotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(0, 8), ss -> " +
      s"list_reduce(list_transform(range(1, 9), d2 -> $a[ss*8+d2] * $b[ss*8+d2]), " +
      s"(x,y) -> x+y)), (x,y) -> x+y)"

  /** From-scratch replay of the per-subspace Lloyd fit — one CTE chain
    * with the subspace as a COLUMN (s ∈ 0..7), each arm the exact shape
    * [[VectorOps.ivfReplayCtes]] proved bit-exact: seeds = first k
    * sample subvectors by vec_id per subspace, per-cell sums folded in
    * vec_id order, empty cells keep the previous centroid, assignment
    * ties to the lowest cell. Ends with `${p}pq` (vec_id, s, code) and
    * `${p}rv` (vec_id, 64-dim reconstruction, subspace slices
    * concatenated in s order so the dot-product fold visits dims in the
    * engine's order). Every CTE name takes prefix `p` so the chain
    * composes with [[VectorOps.ivfReplayCtes]] (which owns the shared
    * `e` and its own samp/c0../c2 names) for the IVF+PQ oracle; `src`
    * picks the (vec_id, v) table the fit reads — `e` for raw vectors,
    * the residual CTE for the IndexIVFPQ replay. */
  private def pqFit(p: String, src: String = "e"): String = {
    val ew = "list_transform(range(1, 9), d -> acc[d] + x[d])"
    s"""${p}sub AS (SELECT vec_id, s, list_slice(v, s*8 + 1, s*8 + 8) AS u
       |  FROM $src, range(0, 8) ts(s)),
       |${p}samp AS (SELECT * FROM ${p}sub WHERE vec_id IN
       |  (SELECT vec_id FROM $src ORDER BY vec_id LIMIT 2048)),
       |${p}c0 AS (SELECT s, cell, u AS c FROM (
       |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cell, u
       |  FROM ${p}samp) WHERE cell < 16),
       |${p}d1 AS (SELECT p.vec_id, p.s, p.u, c.cell, ${sqdSql("p.u", "c.c")} AS dist
       |  FROM ${p}samp p JOIN ${p}c0 c ON c.s = p.s),
       |${p}a1 AS (SELECT vec_id, s, u, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY s, vec_id ORDER BY dist, cell) AS rn
       |  FROM ${p}d1) WHERE rn = 1),
       |${p}m1 AS (SELECT s, cell,
       |  list_reduce(list(u ORDER BY vec_id), (acc, x) -> $ew) AS sm,
       |  count(*) AS n FROM ${p}a1 GROUP BY s, cell),
       |${p}c1 AS (SELECT c0.s, c0.cell,
       |  COALESCE(list_transform(range(1, len(m1.sm)+1), d -> m1.sm[d] / m1.n), c0.c) AS c
       |  FROM ${p}c0 c0 LEFT JOIN ${p}m1 m1 ON m1.s = c0.s AND m1.cell = c0.cell),
       |${p}d2 AS (SELECT p.vec_id, p.s, p.u, c.cell, ${sqdSql("p.u", "c.c")} AS dist
       |  FROM ${p}samp p JOIN ${p}c1 c ON c.s = p.s),
       |${p}a2 AS (SELECT vec_id, s, u, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY s, vec_id ORDER BY dist, cell) AS rn
       |  FROM ${p}d2) WHERE rn = 1),
       |${p}m2 AS (SELECT s, cell,
       |  list_reduce(list(u ORDER BY vec_id), (acc, x) -> $ew) AS sm,
       |  count(*) AS n FROM ${p}a2 GROUP BY s, cell),
       |${p}c2 AS (SELECT c1.s, c1.cell,
       |  COALESCE(list_transform(range(1, len(m2.sm)+1), d -> m2.sm[d] / m2.n), c1.c) AS c
       |  FROM ${p}c1 c1 LEFT JOIN ${p}m2 m2 ON m2.s = c1.s AND m2.cell = c1.cell),
       |${p}dall AS (SELECT b.vec_id, b.s, b.u, c.cell, ${sqdSql("b.u", "c.c")} AS dist
       |  FROM ${p}sub b JOIN ${p}c2 c ON c.s = b.s),
       |${p}pq AS (SELECT vec_id, s, cell AS code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY s, vec_id ORDER BY dist, cell) AS rn
       |  FROM ${p}dall) WHERE rn = 1),
       |${p}rv AS (SELECT p.vec_id, flatten(list(c.c ORDER BY p.s)) AS dv
       |  FROM ${p}pq p JOIN ${p}c2 c ON c.s = p.s AND c.cell = p.code
       |  GROUP BY p.vec_id)""".stripMargin
  }

  private val pqCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${pqFit("")}""".stripMargin

  val pqCodesSql: String =
    s"""$pqCtes,
       |cl AS (SELECT vec_id, list(code ORDER BY s) AS cs FROM pq GROUP BY vec_id)
       |SELECT vec_id,
       |  CAST(list_aggregate(cs, 'min') AS BIGINT) AS code_min,
       |  CAST(list_aggregate(cs, 'max') AS BIGINT) AS code_max,
       |  CAST(list_aggregate(cs, 'sum') AS BIGINT) AS code_sum,
       |  md5(array_to_string(list_transform(cs, c -> CAST(c AS VARCHAR)), ',')) AS code_digest
       |FROM cl""".stripMargin

  val pqErrorSql: String =
    s"""$pqCtes,
       |errs AS (SELECT e.vec_id,
       |  list_transform(range(1, $dim + 1), d -> abs(e.v[d] - r.dv[d])) AS es
       |  FROM e JOIN rv r USING (vec_id))
       |SELECT vec_id,
       |  round(list_reduce(es, (a, b) -> GREATEST(a, b)), 6) AS max_err,
       |  round(list_reduce(es, (a, b) -> a + b) / 64.0, 6) AS mean_err
       |FROM errs""".stripMargin

  val pqTopKSql: String =
    s"""$pqCtes,
       |qq AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS qn
       |  FROM e WHERE vec_id < 10),
       |cc AS (SELECT vec_id, dv, sqrt(${dotSql("dv", "dv")}) AS dn
       |  FROM rv WHERE vec_id >= 10)
       |SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dotSql("q.v", "c.dv")} / (q.qn * c.dn) AS cos_raw,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dotSql("q.v", "c.dv")} / (q.qn * c.dn) DESC, c.vec_id) AS rn
       |  FROM qq q, cc c)
       |WHERE rn <= 5""".stripMargin

  /** IVF fit replay + prefixed PQ fit replay, composed: probe nprobe=2
    * cells (`dq` from the IVF chain), score the probed index rows from
    * their PQ reconstructions (`p_rv`) with the subspace-grouped ADC dot
    * ([[pqDotSql]] — the engine scores m lut lookups per candidate, and
    * the oracle's fold tree mirrors it), rank per query. */
  val annPqSql: String =
    s"""${VectorOps.ivfReplayCtes},
       |${pqFit("p_")},
       |probe AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |  FROM dq) WHERE rn <= 2),
       |ddn AS (SELECT i.vec_id, i.cell, r.dv, sqrt(${dotSql("r.dv", "r.dv")}) AS dn
       |  FROM idx i JOIN p_rv r USING (vec_id)),
       |scored AS (SELECT p.query_id, i.vec_id,
       |  ${pqDotSql("p.qv", "i.dv")} / (p.qn * i.dn) AS cos
       |  FROM probe p JOIN ddn i USING (cell))
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5""".stripMargin

  /** Two-stage replay: PQ fit CTEs give the reconstructions; shortlist =
    * per-query top-50 by the subspace-grouped ADC cosine over the whole
    * compressed corpus; exact re-rank joins the raw vectors back for the
    * shortlist only and takes the top-5 by full-precision cosine. */
  val pqRerankSql: String =
    s"""$pqCtes,
       |qq AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS qn
       |  FROM e WHERE vec_id < 10),
       |cc AS (SELECT vec_id, dv, sqrt(${dotSql("dv", "dv")}) AS dn
       |  FROM rv WHERE vec_id >= 10),
       |appr AS (SELECT q.vec_id AS query_id, c.vec_id, q.v AS qv, q.qn,
       |  ${pqDotSql("q.v", "c.dv")} / (q.qn * c.dn) AS cos_a
       |  FROM qq q, cc c),
       |short AS (SELECT query_id, vec_id, qv, qn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_a DESC, vec_id) AS rn
       |  FROM appr) WHERE rn <= 50),
       |ex AS (SELECT s.query_id, s.vec_id,
       |  ${dotSql("s.qv", "e.v")} / (s.qn * sqrt(${dotSql("e.v", "e.v")})) AS cos
       |  FROM short s JOIN e ON e.vec_id = s.vec_id)
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM ex) WHERE rn <= 5""".stripMargin

  /** Filtered-search replay: the [[annSq8Sql]] chain with the metadata
    * column joined onto the index rows and the per-query predicate
    * applied before ranking. */
  val annFilteredSql: String =
    s"""${VectorOps.ivfReplayCtes},
       |st AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM e, range(1, $dim + 1) td(d) GROUP BY d),
       |sl AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM st),
       |cdx AS (SELECT i.vec_id, i.cell,
       |  list_transform(range(1, $dim + 1), d ->
       |    CASE WHEN sl.mxs[d] = sl.mns[d] THEN 0
       |         ELSE CAST(GREATEST(0, LEAST(255,
       |           floor((i.v[d] - sl.mns[d]) / (sl.mxs[d] - sl.mns[d]) * 255.0 + 0.5)))
       |           AS INTEGER) END) AS cs
       |  FROM idx i, sl),
       |ddx AS (SELECT c.vec_id, c.cell,
       |  list_transform(range(1, $dim + 1), d ->
       |    sl.mns[d] + c.cs[d] * ((sl.mxs[d] - sl.mns[d]) / 255.0)) AS dv
       |  FROM cdx c, sl),
       |ddn AS (SELECT x.vec_id, x.cell, x.dv, sqrt(${dotSql("x.dv", "x.dv")}) AS dn,
       |  lb.label
       |  FROM ddx x JOIN (SELECT vec_id, label FROM embeddings) lb USING (vec_id)),
       |probe AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |  FROM dq) WHERE rn <= 2),
       |scored AS (SELECT p.query_id, i.vec_id, i.label,
       |  ${dotSql("p.qv", "i.dv")} / (p.qn * i.dn) AS cos
       |  FROM probe p JOIN ddn i USING (cell)
       |  WHERE i.label = CAST(p.query_id % 3 AS INTEGER))
       |SELECT query_id, vec_id AS neighbor_id, label, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5""".stripMargin

  /** IVF+OPQ replay: IVF fit CTEs (own `e`, `idx`, `dq`), the OPQ
    * permutation fragment, the permuted-space PQ fit, then scoring:
    * candidates = probed index rows joined to their permuted
    * reconstructions (`o_rv`), query side permuted with `operm` before
    * the subspace-grouped ADC dot — everything stays in permuted space,
    * matching the engine's persisted-code path exactly. */
  val annOpqSql: String =
    s"""${VectorOps.ivfReplayCtes},
       |$opqPermCtes,
       |${pqFit("o_", "opv")},
       |ddn AS (SELECT i.vec_id, i.cell, r.dv, sqrt(${dotSql("r.dv", "r.dv")}) AS dn
       |  FROM idx i JOIN o_rv r USING (vec_id)),
       |probe AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |  FROM dq) WHERE rn <= 2),
       |pperm AS (SELECT p.query_id, p.qn, p.cell,
       |  list_transform(operm.perm, pd -> p.qv[pd]) AS pqv
       |  FROM probe p, operm),
       |scored AS (SELECT p.query_id, i.vec_id,
       |  ${pqDotSql("p.pqv", "i.dv")} / (p.qn * i.dn) AS cos
       |  FROM pperm p JOIN ddn i USING (cell))
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5""".stripMargin

  /** Residual IVF+PQ replay: IVF fit CTEs, then (1) full-corpus
    * assignment `rasg` (idx covers only the corpus side; the residual
    * FIT samples the whole table, exactly like the engine's build), (2)
    * residual vectors `res` = v − centroid(cell), (3) the prefixed PQ
    * fit chain over `res`, (4) full reconstructions `rrec` = centroid +
    * decoded residual with their norms, (5) the decomposed IVFADC score
    * q·c + subspace-grouped q·r̂ over the probed cells. */
  val annPqrSql: String =
    s"""${VectorOps.ivfReplayCtes},
       |rall AS (SELECT e.vec_id, e.v, c.cell, ${sqdSql("e.v", "c.c")} AS dist
       |  FROM e, c2 c),
       |rasg AS (SELECT vec_id, v, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |  FROM rall) WHERE rn = 1),
       |res AS (SELECT a.vec_id, list_transform(range(1, $dim + 1), d -> a.v[d] - c.c[d]) AS v
       |  FROM rasg a JOIN c2 c USING (cell)),
       |${pqFit("r_", "res")},
       |rrec AS (SELECT a.vec_id, a.cell,
       |  list_transform(range(1, $dim + 1), d -> c.c[d] + r.dv[d]) AS dv
       |  FROM rasg a JOIN r_rv r USING (vec_id) JOIN c2 c ON c.cell = a.cell
       |  WHERE a.vec_id >= 10),
       |ddr AS (SELECT vec_id, cell, sqrt(${dotSql("dv", "dv")}) AS dn FROM rrec),
       |probe AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |  FROM dq) WHERE rn <= 2),
       |scored AS (SELECT p.query_id, i.vec_id,
       |  (${dotSql("p.qv", "c.c")} + ${pqDotSql("p.qv", "r.dv")}) / (p.qn * i.dn) AS cos
       |  FROM probe p JOIN ddr i USING (cell)
       |  JOIN c2 c ON c.cell = i.cell
       |  JOIN r_rv r ON r.vec_id = i.vec_id)
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5""".stripMargin

  /** Codec-SELECTION instrument (the other half of q_codec_drift's
    * rebuild-decision pair): recall@5 vs exact cosine for every
    * compressed-search arm at the SAME fixed candidate budget — the
    * IVF nprobe=2 probe for the ADC arms (SQ8/PQ/PQR/OPQ over the one
    * persisted artifact), the 50-candidate Hamming shortlist for BQ —
    * one row per codec, the table an operator reads to pick a codec
    * for a corpus. Each arm IS its graded query (annSq8/annPq/
    * annPqResidual/annOpq/bqRerank), so this measures the production
    * paths, not reimplementations; the exact baseline is the
    * brute-force pass over the raw embeddings (a degraded artifact
    * degrades the ladder, not the baseline). Driver traffic: one
    * bounded count plus one ≤5-row collect: the five arms are
    * independent, so they run as ONE labeled-union aggregation, whose
    * stages Spark schedules concurrently instead of five sequential
    * counts, and each arm's own plan is unchanged. The per-codec ratio
    * arithmetic stays on the driver, bit-identical to five separate
    * counts: hit counts are exact longs either way. */
  def codecRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = VectorOps.cosineTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val nExact = exact.count()
    val arms: Seq[(String, DataFrame)] = Seq(
      "sq8" -> annSq8(s, dir),
      "pq" -> annPq(s, dir),
      "pqr" -> annPqResidual(s, dir),
      "opq" -> annOpq(s, dir),
      "bq" -> bqRerank(s, dir))
    val hitsByCodec = arms.map { case (codec, df) =>
        df.select(lit(codec).as("codec"), col("query_id"), col("neighbor_id"))
      }.reduce(_.unionByName(_))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("codec").agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    arms.map { case (codec, _) =>
      val hits = hitsByCodec.getOrElse(codec, 0L)
      (codec, math.round(hits.toDouble / nExact * 10000) / 10000.0)
    }.toDF("codec", "recall_at_5")
  }

  /** Replay: every arm's proven SQL nested as a derived table, unioned
    * with its codec label, left-joined to the exact top-5. */
  val codecRecallSql: String = {
    val armSqls = Seq("sq8" -> annSq8Sql, "pq" -> annPqSql,
      "pqr" -> annPqrSql, "opq" -> annOpqSql, "bq" -> bqRerankSql)
    val union = armSqls.map { case (codec, sql) =>
      s"SELECT '$codec' AS codec, query_id, neighbor_id FROM (\n$sql\n)"
    }.mkString("\nUNION ALL\n")
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM (
       |${VectorOps.cosineTopKSql}
       |)),
       |nex AS (SELECT count(*) AS n FROM exact),
       |arms AS (
       |$union)
       |SELECT a.codec,
       |  floor(CAST(count(ex.query_id) AS DOUBLE) / nex.n * 10000 + 0.5)
       |    / 10000.0 AS recall_at_5
       |FROM arms a
       |LEFT JOIN exact ex
       |  ON ex.query_id = a.query_id AND ex.neighbor_id = a.neighbor_id, nex
       |GROUP BY a.codec, nex.n""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_pq" -> annPq _,
    "q_codec_recall" -> codecRecall _,
    "q_sq8_codes" -> sq8Codes _,
    "q_sq8_error" -> sq8Error _,
    "q_sq8_topk" -> sq8TopK _,
    "q_ann_sq8" -> annSq8 _,
    "q_pq_codes" -> pqCodes _,
    "q_pq_error" -> pqError _,
    "q_pq_topk" -> pqTopK _,
    "q_pq_rerank" -> pqRerank _,
    "q_ann_pqr" -> annPqResidual _,
    "q_ann_filtered" -> annFiltered _,
    "q_incremental_ann" -> incrementalAnn _,
    "q_ann_rebuild" -> annRebuild _,
    "q_cell_split" -> cellSplit _,
    "q_codec_drift" -> codecDriftQ _,
    "q_rebuild_decision" -> rebuildDecision _,
    "q_opq_error" -> opqError _,
    "q_ann_opq" -> annOpq _,
    "q_bq_rerank" -> bqRerank _)

  val oracles: Map[String, String] = Map(
    "q_ann_pq" -> annPqSql,
    "q_codec_recall" -> codecRecallSql,
    "q_sq8_codes" -> sq8CodesSql,
    "q_sq8_error" -> sq8ErrorSql,
    "q_sq8_topk" -> sq8TopKSql,
    "q_ann_sq8" -> annSq8Sql,
    "q_pq_codes" -> pqCodesSql,
    "q_pq_error" -> pqErrorSql,
    "q_pq_topk" -> pqTopKSql,
    "q_pq_rerank" -> pqRerankSql,
    "q_ann_pqr" -> annPqrSql,
    "q_ann_filtered" -> annFilteredSql,
    "q_incremental_ann" -> incrementalAnnSql,
    "q_ann_rebuild" -> annRebuildSql,
    "q_cell_split" -> cellSplitSql,
    "q_codec_drift" -> codecDriftSql,
    "q_rebuild_decision" -> rebuildDecisionSql,
    "q_opq_error" -> opqErrorSql,
    "q_ann_opq" -> annOpqSql,
    "q_bq_rerank" -> bqRerankSql)
}
