package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must run at sf0.001 and agree between `queries` and
  * `oracleSql` key sets — the invariants the driver's gate depends on. */
class QueriesSmokeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("every oracle has a query; every query has an oracle") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // since r6 the full surface is oracle-paired: the last rows-only
    // holdouts (the engine-defined IVF fit) are replayed bit-exactly in
    // DuckDB (annIvfSql / annRecallSql)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set.empty)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The queries that read one of the two session memos — the decoded
    * media signatures (`MediaDedup.corpusSignatures`) or the sampled
    * co-purchase edges (`Graph.coPurchaseEdges`). Every other query
    * builds its own state, so it must not touch any memo. */
  private val memoReaders = Set(
    "q_media_neardup", "q_media_groups", "q_media_search", "q_media_recall",
    "q_band_profile", "q_media_incremental", "q_media_sweep",
    "q_sweep_decision", "q_recall_at_cap",
    "q_kcore", "q_assortativity", "q_random_walks")

  private def memoTraffic(): Long = {
    import graft.operators.SessionMemo
    SessionMemo.buildCount.get() + SessionMemo.hitCount.get()
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val before = memoTraffic()
      val df = fn(spark, TestSpark.sf0001)
      assert(df.columns.nonEmpty)
      df.count() // must not throw
      val traffic = memoTraffic() - before
      assert(traffic == 0 || memoReaders(name),
        s"$name touched a session memo $traffic time(s) but reads neither " +
          "memoized derived table: a query builds its own stores and indexes")
    }
  }
}
