package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental compressed vector index — the ANN leg of the intake
  * family next to [[DedupIndex]]/[[SemanticDedupIndex]]: embedding
  * micro-batches append to a standing table of SEARCH-READY rows
  * (vec_id, cell, 1-byte/dim SQ8 codes, reconstruction norm) instead of
  * the corpus being re-indexed per batch. Storage/visibility/compaction
  * ride [[BatchedSignatureStore]] (`b=N` committed dirs, crash-safe
  * consolidation); the codec state rides the index directory.
  *
  * Model lifecycle — the production IVF discipline: the coarse
  * centroids and the SQ8 ranges are fit ONCE, on the first ingested
  * batch (deterministic sampled fit, exact text roundtrip), and FROZEN;
  * later batches assign+encode under the frozen models, so previously
  * written codes never need rewriting and a search is consistent across
  * the whole accumulated table. The cost is drift: if the embedding
  * distribution moves past the first batch's ranges, codes saturate at
  * the clamp and cells skew — [[codecDrift]] measures both so an
  * operator can decide when to rebuild into a fresh index (the same
  * rebuild-vs-extend call FAISS deployments make; an in-place refit
  * would silently invalidate every persisted code).
  *
  * Scale shape: ingest is one map stage over the batch (broadcast
  * centroids + plan-literal codec) plus one committed append — cost
  * tracks the BATCH, never the standing index. A search reads codes
  * only (1 byte/dim) and touches ~nprobe/k of the table via the probed
  * bucket join, exactly like the immutable [[IvfStore]] artifact path.
  */
class VectorIndex(spark: SparkSession, path: String,
                  k: Int = 8, iters: Int = 2, sampleSize: Int = 2048)
    extends BatchedSignatureStore(spark, path) {

  override protected def schema: StructType = VectorIndex.rowSchema

  private def fsRoot = new java.io.File(path)

  /** Committed rebuild generations (`g=N`). Generation -1 is the
    * original flat layout at the store root (back-compat: an index that
    * was never rebuilt has no `g=` dirs and keeps its old shape). */
  private def generations: Seq[Int] =
    graft.load.CommittedDirs.list(fsRoot, "g=")

  /** The active generation dir — models AND batch dirs live together
    * under it, so a [[rebuild]] swap retargets both with one rename. */
  override protected def storageRoot: java.io.File =
    generations.lastOption.map(g => new java.io.File(fsRoot, s"g=$g"))
      .getOrElse(fsRoot)

  private def ivfFile = new java.io.File(storageRoot, "ivf_centroids.txt")
  private def sq8File = new java.io.File(storageRoot, "sq8.txt")

  private def writeLines(rows: Seq[Array[Double]], f: java.io.File): Unit =
    Files.writeString(f.toPath,
      rows.map(_.map(java.lang.Double.toString).mkString(",")).mkString("\n"))

  private def readLines(f: java.io.File): Array[Array[Double]] =
    Files.readString(f.toPath).split("\n")
      .map(_.split(",").map(java.lang.Double.parseDouble))

  /** Frozen models, present once the first batch landed. */
  def models: Option[(IvfIndex.Model, Sq8Model)] =
    if (ivfFile.exists() && sq8File.exists()) {
      val s = readLines(sq8File)
      Some((IvfIndex.Model(readLines(ivfFile)), Sq8Model(s(0), s(1))))
    } else None

  private def fitOrLoad(emb: DataFrame): (IvfIndex.Model, Sq8Model) =
    models.getOrElse {
      val ivf = IvfIndex.fitSample(emb, k, iters, sampleSize)
      val sq8 = Sq8.fit(emb)
      storageRoot.mkdirs()
      writeLines(ivf.centroids.toSeq, ivfFile)
      writeLines(Seq(sq8.mins, sq8.maxs), sq8File)
      (ivf, sq8)
    }

  /** Assign + SQ8-encode `(vec_id, embedding)` rows under the given
    * models — the one encode pass shared by [[ingest]] and [[rebuild]]. */
  private def encodeRows(emb: DataFrame, ivf: IvfIndex.Model,
                         sq8: Sq8Model): DataFrame = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.dot_double(a, b)
    IvfIndex.assign(emb, ivf)
      .withColumn("sq8_arr", Sq8.encode(sq8)(col("v")))
      .withColumn("dv", Sq8.decode(sq8)(col("sq8_arr")))
      .select(col("vec_id"), col("cell"),
        Codes.pack(col("sq8_arr")).as("sq8_codes"),
        sqrt(dot(col("dv"), col("dv"))).as("dn"))
  }

  /** Ingest one batch of (vec_id, embedding): assign + encode under the
    * frozen models, append as a committed batch dir. Returns rows added.
    * vec_id uniqueness across batches is the caller's contract (an
    * index, not a dedup filter — compose with [[SemanticDedupIndex]]
    * upstream when near-dup suppression is wanted). Appends serialize
    * ([[BatchedSignatureStore.serialized]]); the FIRST ingest — the one
    * that fits and freezes the models — remains single-writer by the
    * freeze contract (two concurrent first batches would race the model
    * files themselves, not the batch dirs). */
  def ingest(emb: DataFrame): Long =
    serialized { graft.operators.Checkpoints.scoped {
      val (ivf, sq8) = fitOrLoad(emb)
      val rows = graft.operators.Checkpoints.ck(encodeRows(emb, ivf, sq8))
      val n = rows.count()
      append(rows, n)
      n
    } }

  /** The REBUILD act — what [[codecDrift]] decides to trigger: re-fit
    * the coarse centroids and SQ8 ranges on the ACCUMULATED corpus (the
    * raw embeddings are the caller's source of truth; the index stores
    * only codes), re-encode every row under the fresh models, and
    * atomically swap the whole artifact in as generation `g=N+1` via
    * [[graft.load.AtomicDirCommit]] — models and codes live in the same
    * generation dir, so a reader can never observe fresh centroids over
    * stale codes (the corruption an in-place refit would produce), and
    * a crash at any point leaves the previous generation intact and
    * serving. vec_ids are preserved verbatim; prior generations remain
    * on disk as versioned artifacts until [[pruneGenerations]].
    * Returns the committed generation number. */
  def rebuild(emb: DataFrame): Int = {
    require(models.isDefined, s"VectorIndex at $path has no batches")
    val ivf = IvfIndex.fitSample(emb, k, iters, sampleSize)
    val sq8 = Sq8.fit(emb)
    commitGeneration(encodeRows(emb, ivf, sq8), ivf, sq8)
  }

  /** Commit (rows, models) as the next `g=N` generation dir with one
    * atomic rename — the swap step shared by [[rebuild]] and
    * [[splitHotCells]]. */
  private def commitGeneration(rows: DataFrame, ivf: IvfIndex.Model,
                               sq8: Sq8Model): Int = {
    // generation temps stage at the store ROOT (the rename target's
    // parent), which the batch-level sweep in compact() never visits
    // (it sweeps the ACTIVE generation dir) — so a crashed writer's
    // index-sized temp is reclaimed here, by the next generation writer
    graft.load.AtomicDirCommit.sweepTmp(fsRoot,
      graft.load.TripletStore.TmpSweepAgeMs)
    val next = generations.lastOption.getOrElse(-1) + 1
    val tmp = graft.load.AtomicDirCommit.tmpFor(fsRoot, s"g$next")
    tmp.mkdirs()
    rows.select(VectorIndex.rowSchema.fieldNames.map(col): _*)
      .write.mode("overwrite")
      .parquet(new java.io.File(tmp, "b=0").getAbsolutePath)
    writeLines(ivf.centroids.toSeq, new java.io.File(tmp, "ivf_centroids.txt"))
    writeLines(Seq(sq8.mins, sq8.maxs), new java.io.File(tmp, "sq8.txt"))
    // top-level _SUCCESS last: the generation is only visible/committable
    // once models AND codes are all on disk
    Files.writeString(new java.io.File(tmp, "_SUCCESS").toPath, "")
    graft.load.AtomicDirCommit.commit(tmp,
      new java.io.File(fsRoot, s"g=$next"))
    next
  }

  /** Act on coarse-cell imbalance — what the cluster-profile instrument
    * measures: every cell whose population exceeds `cellCap` is SPLIT by
    * a k=2 Lloyd refit INSIDE the cell (first-2048-by-vec_id sample,
    * first-2-DISTINCT init, [[iters]] rounds — the
    * [[IvfIndex.fitSample]] discipline cell-locally; a cell with no two
    * distinct vectors is geometrically unsplittable and is skipped),
    * its members reassigned between the two
    * sub-centroids only, and the result committed as a fresh generation.
    * Unsplit cells keep their ids, centroids AND rows byte-identical
    * (the SQ8 codec is untouched — codes never rewrite), so search
    * results over unsplit cells cannot change; sub-cell 0 keeps the hot
    * cell's id, sub-cell 1 gets id `k0 + rank` (hot cells ranked by id).
    * Returns the (new sub-cell id → parent cell) mapping — empty when no
    * cell is hot, in which case NO generation is committed. */
  def splitHotCells(emb: DataFrame, cellCap: Long): Map[Int, Int] = {
    val (ivf, sq8) = models.getOrElse(
      throw new IllegalStateException(s"VectorIndex at $path has no batches"))
    val t = table
    val hotCells = t.groupBy("cell").count()
      .filter(col("count") > cellCap)
      .orderBy("cell").collect().map(_.getInt(0)) // bounded: ≤ k cells
    if (hotCells.isEmpty) return Map.empty
    // scoped: the generation write inside commitGeneration completes
    // before this block exits, so the corpus-sized `assigned` blocks are
    // dead on return — splitUntilBalanced calls this up to maxRounds
    // times and must not pin one corpus per round for the session
    graft.operators.Checkpoints.scoped {
    val spark = emb.sparkSession
    import spark.implicits._
    val assigned = graft.operators.Checkpoints.ck(emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(t.select(col("vec_id"), col("cell")), "vec_id"))
    val k0 = ivf.centroids.length
    val newCents = scala.collection.mutable.ArrayBuffer(ivf.centroids.toSeq: _*)
    val subFor = scala.collection.mutable.Map.empty[Int, (Array[Double], Array[Double], Int)]
    hotCells.foreach { c =>
      val sample = assigned.filter(col("cell") === c)
        .orderBy("vec_id").limit(sampleSize)
        .select("v").as[Seq[Double]].collect().map(_.toArray)
      // init = first two DISTINCT sample vectors: identical heads (an
      // exact-duplicate clump — the dup-heavy normal case) would make a
      // degenerate 2-means whose second sub-cell can never win a tie,
      // committing a dead centroid and no progress. A cell with no two
      // distinct vectors is geometrically unsplittable — SKIP it.
      val init = {
        val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
        sample.iterator.takeWhile(_ => seen.size < 2)
          .foreach(v => seen += v.toSeq)
        seen.toArray.map(_.toArray)
      }
      if (init.length == 2) {
        var cents = init
        (0 until iters).foreach { _ =>
          val sums = Array.fill(cents.length)(new Array[Double](cents.head.length))
          val counts = new Array[Int](cents.length)
          sample.foreach { v =>
            val s = IvfIndex.nearest(v, cents)
            counts(s) += 1
            var j = 0
            while (j < v.length) { sums(s)(j) += v(j); j += 1 }
          }
          cents = cents.indices.map(s =>
            if (counts(s) == 0) cents(s) else sums(s).map(_ / counts(s))).toArray
        }
        val newId = k0 + subFor.size
        newCents(c) = cents(0)
        newCents += cents(1)
        subFor(c) = (cents(0), cents(1), newId)
      }
    }
    // nothing splittable: do NOT commit a junk generation
    if (subFor.isEmpty) return Map.empty
    val bc = spark.sparkContext.broadcast(subFor.toMap)
    val recell = udf((cell: Int, v: Seq[Double]) =>
      if (v == null) cell
      else bc.value.get(cell) match {
        case Some((a, b, newId)) =>
          // ties to sub 0 — the row_number (dist, sub) rule
          if (IvfIndex.nearest(v, Array(a, b)) == 0) cell else newId
        case None => cell
      })
    // LEFT join: an index row whose vec_id is absent from the supplied
    // corpus slice keeps its cell and codes verbatim (it just cannot be
    // reassigned without its vector) — never silently dropped
    val rows = t.join(assigned.select(col("vec_id"), col("v")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), recell(col("cell"), col("v")).as("cell"),
        col("sq8_codes"), col("dn"))
    commitGeneration(rows, IvfIndex.Model(newCents.toArray), sq8)
    subFor.map { case (c, (_, _, newId)) => newId -> c }.toMap
    } // Checkpoints.scoped
  }

  /** Iterate [[splitHotCells]] until the profile is under `cellCap` (a
    * skewed 2-means can leave one sub-cell still hot — e.g. a dense
    * mode next to a sparse one splits 290/10) or `maxRounds` is spent.
    * Each round that splits commits its own generation, so the history
    * stays audit-able and a crash mid-ladder leaves a served, coherent
    * artifact. Returns the number of splitting rounds. */
  def splitUntilBalanced(emb: DataFrame, cellCap: Long,
                         maxRounds: Int = 8): Int = {
    def profileOf: Map[Int, Long] = table.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ cells rows
    var rounds = 0
    var prev = profileOf
    while (rounds < maxRounds) {
      if (prev.values.forall(_ <= cellCap)) return rounds
      if (splitHotCells(emb, cellCap).isEmpty) return rounds // unsplittable
      rounds += 1
      val now = profileOf
      // a committed round that moved nothing (degenerate geometry) must
      // not be retried — the deterministic outcome would repeat forever
      if (now == prev) return rounds
      prev = now
    }
    rounds
  }

  /** Drop all superseded generation dirs (keeping the active one) plus
    * the pre-generation flat layout's model/batch files once a rebuild
    * has superseded them. Time-travel to old generations ends here.
    * A concurrent rebuild's in-flight `.tmp-g*` staging dir is NOT a
    * superseded artifact: deleting it would fail that writer's commit,
    * so temps get the same [[graft.load.AtomicDirCommit.sweepTmp]] age
    * discipline as commitGeneration — only dead writers' temps (older
    * than TmpSweepAgeMs) are reclaimed here. */
  def pruneGenerations(): Unit = generations.lastOption.foreach { live =>
    generations.dropRight(1)
      .foreach(g => graft.load.Scratch.rm(new java.io.File(fsRoot, s"g=$g")))
    val now = System.currentTimeMillis()
    Option(fsRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName != s"g=$live" && !f.getName.startsWith("g="))
      .filterNot(f => f.getName.startsWith(".tmp-") &&
        now - f.lastModified() <= graft.load.TripletStore.TmpSweepAgeMs)
      .foreach(graft.load.Scratch.rm)
  }

  /** Committed rebuild generation currently serving (-1 = the original
    * flat layout, never rebuilt) — the artifact version the maintenance
    * verbs report so a caller can tell "acted" from "no-op" without
    * diffing directories. */
  def activeGeneration: Int = generations.lastOption.getOrElse(-1)

  /** The vector family's LSM maintenance triad as ONE gated verb — the
    * [[MediaDedupIndex.sweepIfRecommended]] /
    * [[SemanticDedupIndex.sweepIfRecommended]] discipline on its third
    * index: measure ([[codecDrift]] + the coarse-cell profile), decide
    * against the caller's policy, act ([[rebuild]] and/or
    * [[splitUntilBalanced]]), return what was measured and what fired.
    * The two symptoms map to the two acts they actually cure:
    *
    *  - `oorFrac > oorMax` → [[rebuild]]: values escaping the frozen
    *    SQ8 ranges saturate at the clamp — only a refit fixes codes;
    *  - a cell over `cellCap` (profiled AFTER any rebuild, which
    *    reassigns every cell) → [[splitUntilBalanced]]: skew is a
    *    probe-cost problem, cured cell-locally without touching codes.
    *
    * `maxCellShare` is reported (the skew instrument a dashboard
    * alerts on) but never triggers a rebuild: a refit of the same
    * corpus reproduces the same centroids, so a share-triggered
    * rebuild would re-fire identically on every call — committing an
    * endless chain of byte-identical generations — while the split act
    * converges. IDEMPOTENT on artifacts: after a rebuild, the refit
    * ranges cover `emb` exactly (oorFrac = 0), and after the ladder
    * either the cap holds or the residue is unsplittable (which
    * [[splitHotCells]] refuses to commit) — a second call measures,
    * decides no, and commits NOTHING (MaintainSpec pins generation
    * numbers across a double call). No-op on a clean store: two cheap
    * aggregates, no write. */
  def maintainIfDrifted(emb: DataFrame, oorMax: Double = 0.05,
                        cellCap: Long = Long.MaxValue,
                        maxRounds: Int = 8): VectorIndex.MaintainStats = {
    val genBefore = activeGeneration
    val (oorFrac, maxShare) = codecDrift(emb)
    val rebuildNeeded = oorFrac > oorMax
    if (rebuildNeeded) rebuild(emb)
    val maxPop = table.groupBy("cell").count()
      .agg(coalesce(max(col("count")), lit(0L))).head.getLong(0)
    val rounds =
      if (maxPop > cellCap) splitUntilBalanced(emb, cellCap, maxRounds)
      else 0
    VectorIndex.MaintainStats(oorFrac, maxShare, rebuilt = rebuildNeeded,
      splitRounds = rounds, genBefore = genBefore,
      genAfter = activeGeneration)
  }

  /** Probed top-k over the accumulated code table — same plan as the
    * artifact search: broadcast probed cells, codes-only scan, bucket-
    * local asymmetric cosine. */
  def search(queries: DataFrame, topK: Int, nprobe: Int): DataFrame = {
    val (ivf, sq8) = models.getOrElse(
      throw new IllegalStateException(s"VectorIndex at $path has no batches"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.dot_double(a, b)
    val q = IvfIndex.probedCells(queries, ivf, nprobe).drop("cell_rank")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    table
      .withColumn("dv", Sq8.decode(sq8)(Codes.unpack(col("sq8_codes"), sq8.dim)))
      .join(broadcast(q), "cell")
      .withColumn("cos", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Drift instruments for the frozen models over a candidate batch:
    * fraction of (row, dim) values OUTSIDE the frozen SQ8 range (codes
    * there saturate at the clamp) and the max cell share under the
    * frozen centroids (skew — 1/k is perfectly balanced). Cheap one-pass
    * aggregates; an operator alerts on them and rebuilds into a fresh
    * index when they cross policy. */
  def codecDrift(emb: DataFrame): (Double, Double) = {
    val (ivf, sq8) = models.getOrElse(
      throw new IllegalStateException(s"VectorIndex at $path has no batches"))
    val mins = typedLit(sq8.mins.toSeq)
    val maxs = typedLit(sq8.maxs.toSeq)
    val v = col("embedding").cast("array<double>")
    val outOfRange = emb.select(
        aggregate(zip_with(v, sequence(lit(1), lit(sq8.dim)), (x, i) =>
          when(x < element_at(mins, i) || x > element_at(maxs, i), 1).otherwise(0)),
          lit(0), (a, x) => a + x).as("oor"))
      .agg(sum("oor").cast("double").as("n_oor"), count(lit(1)).as("n"))
      .head()
    val oorFrac = outOfRange.getDouble(0) / (outOfRange.getLong(1) * sq8.dim)
    val cellShare = IvfIndex.assign(emb, ivf)
      .groupBy("cell").count()
      .agg(max(col("count")).cast("double").as("mx"), sum(col("count")).as("n"))
      .head()
    (oorFrac, cellShare.getDouble(0) / cellShare.getLong(1))
  }
}

object VectorIndex {
  val rowSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", IntegerType),
    StructField("sq8_codes", BinaryType), StructField("dn", DoubleType)))

  /** What [[VectorIndex.maintainIfDrifted]] measured and did: the two
    * drift instruments, which acts fired, and the artifact generation
    * before/after (equal = nothing was committed). */
  case class MaintainStats(oorFrac: Double, maxCellShare: Double,
                           rebuilt: Boolean, splitRounds: Int,
                           genBefore: Int, genAfter: Int)
}
