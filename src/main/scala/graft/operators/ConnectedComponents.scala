package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC 2014) — the piece that turns near-duplicate PAIRS
  * (MinHash/SimHash/embedding LSH emit pairs) into dedup GROUPS with one
  * surviving representative per group. The reference resolves duplicate
  * chains row-by-row on pandas frames
  * (`/root/reference/code/transform/core/GraphHandler*.py` same-entity
  * walks); this is the scale-out restatement.
  *
  * Every step is an equi-join or a groupBy on the node id — no
  * cartesian, no driver-side graph. Each iteration halves tree heights
  * (the paper proves O(log² n) rounds worst-case; near-dup graphs —
  * mostly small cliques — converge in 2-3). The edge set is
  * `localCheckpoint`ed per round to cut lineage, and convergence is
  * detected from a two-value aggregate (count + order-independent hash
  * sum), so loop control on the driver is O(1) per round.
  */
object ConnectedComponents {

  /** @param edges undirected edge list; first two columns are the
    *              endpoints (LONG-castable). Self-loops carry no
    *              connectivity but their node still appears in the output
    *              (as its own singleton component).
    * @param maxIter safety bound on large+small rounds (the algorithm
    *                converges in O(log² n); 50 covers any real graph)
    * @return (node, component) for every node appearing in `edges`,
    *         where component = the smallest node id in its component —
    *         i.e. the canonical dedup survivor.
    */
  def apply(edges: DataFrame, maxIter: Int = 50): DataFrame =
    applyWithRounds(edges, maxIter)._1

  /** [[apply]] plus the number of large+small rounds it took — the probe
    * surface for the O(log² n) convergence claim (SCALE.md § Dedup /
    * similarity records measured rounds on chains/cliques/random
    * graphs). */
  def applyWithRounds(edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val u = edges.columns(0)
    val v = edges.columns(1)
    val cast = edges
      .select(col(u).cast("long").as("a"), col(v).cast("long").as("b"))
    // Every endpoint — including self-loop-only nodes — gets an output row.
    val nodes = Checkpoints.ck(cast.select(col("a").as("node"))
      .union(cast.select(col("b").as("node"))).distinct())
    // Canonical start: (hi, lo) directed pairs, self-loops dropped.
    var e = Checkpoints.ck(cast
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct())

    // Order-independent edge-set fingerprint. bit_xor (not sum): the edge
    // set is distinct, XOR is overflow-free under ANSI mode where summing
    // full-range 64-bit hashes would throw ARITHMETIC_OVERFLOW.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      it += 1
      // Large-star: for every node, attach all LARGER neighbors to the
      // minimum of its neighborhood (incl. itself). Keyed on the node →
      // one shuffle; min(N(u) ∪ {u}) via least(min(v), u) on the group.
      val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = nbr.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val large = Checkpoints.ck(nbr.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct())
      // Small-star: edges already point (hi → lo); attach every smaller
      // neighbor AND the node itself to the neighborhood minimum.
      val ssMin = large.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val withMin = large.join(ssMin, "u")
      val small = Checkpoints.ck(withMin.select(col("v").as("n"), col("m"))
        .union(ssMin.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct())
      val next = signature(small)
      converged = next == sig
      sig = next
      // `small` is eagerly materialized (localCheckpoint), so the
      // round's `large` intermediate and the superseded edge set are
      // dead — free their blocks now, or a deep run pins ~2 edge tables
      // per round in executor storage (the output joins only the FINAL
      // edge set and `nodes`). Same discipline as PageRank's loop.
      Checkpoints.free(large)
      Checkpoints.free(e)
      e = small
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // At the fixpoint e is a star forest: (node → component min). Roots
    // appear only on the parent side; they label themselves.
    val out = nodes.join(e, nodes("node") === e("u"), "left")
      .select(col("node"), coalesce(col("v"), col("node")).as("component"))
    (out, it)
  }
}
