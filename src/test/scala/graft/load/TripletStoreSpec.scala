package graft.load

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reference's versioning scenario (`test_GraphHandler.py:115-120`
  * fixture sequence): load v1, re-load (idempotent extension), load a
  * changed version (deprecation + new range), verify current/as-of
  * queries. */
class TripletStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def batch(rows: Seq[(String, String, String)], time: String,
                    method: String = "parser", conf: Double = 1.0): DataFrame =
    rows.toDF("subject", "predicate", "obj")
      .withColumn("objKind", lit("literal"))
      .withColumn("datatype", lit(""))
      .withColumn("extractionMethod", lit(method))
      .withColumn("confidence", lit(conf))
      .withColumn("extractionTime", lit(ts(time)))

  test("SCD-2 merge: create, extend, deprecate, as-of") {
    val dir = Files.createTempDirectory("store").toString
    val store = new TripletStore(spark, dir)

    // v0: two subjects, two facts each
    val s1 = store.merge(batch(Seq(
      ("m1", "name", "alpha"), ("m1", "task", "nlp"),
      ("m2", "name", "beta"), ("m2", "task", "vision")),
      "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    assert(s1.nNew == 4 && s1.nExtended == 0 && s1.nDeprecated == 0)
    assert(store.distinctSubjectCount == 2)

    // idempotent re-load at a later time: all ranges extend, none deprecate
    val s2 = store.merge(batch(Seq(
      ("m1", "name", "alpha"), ("m1", "task", "nlp"),
      ("m2", "name", "beta"), ("m2", "task", "vision")),
      "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    assert(s2.nNew == 0 && s2.nExtended == 4 && s2.nDeprecated == 0)
    val afterExtend = store.ranges
    assert(afterExtend.filter(col("useEnd") === ts("2024-02-01 00:00:00")).count() == 4)

    // m1 changes its name; m2 not in the batch → untouched
    val s3 = store.merge(batch(Seq(
      ("m1", "name", "alpha-v2"), ("m1", "task", "nlp")),
      "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))
    assert(s3.nNew == 1)       // the new name
    assert(s3.nExtended == 1)  // the unchanged task
    assert(s3.nDeprecated == 1) // the old name

    val cur = store.currentTriples
    assert(cur.filter(col("subject") === "m1" && col("predicate") === "name")
      .select("obj").as[String].collect().toSet == Set("alpha-v2"))
    assert(cur.count() == 4) // m1: name+task, m2: name+task
    val dep = store.ranges.filter(col("deprecated"))
    assert(dep.count() == 1)
    assert(dep.select("obj").as[String].head() == "alpha")

    // as-of January: the original name was current
    val asOfJan = store.asOf(ts("2024-01-15 00:00:00"))
    assert(asOfJan.filter(col("subject") === "m1" && col("predicate") === "name")
      .select("obj").as[String].collect().toSet contains "alpha")

    // delta between snapshots: v1 → v2 adds alpha-v2, retires alpha
    val (added, retired) = store.delta(1, 2)
    assert(added.select("obj").as[String].collect().toSet == Set("alpha-v2"))
    assert(retired.select("obj").as[String].collect().toSet == Set("alpha"))
  }

  test("time-based retention: in-horizon as-of unchanged, below-horizon throws") {
    val dir = Files.createTempDirectory("store_ttl").toString
    val store = new TripletStore(spark, dir)
    // history: name=alpha Jan..Feb (closed in Mar), name=alpha-v2 Mar..
    store.merge(batch(Seq(("m1", "name", "alpha"), ("m1", "task", "nlp")),
      "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    store.merge(batch(Seq(("m1", "name", "alpha"), ("m1", "task", "nlp")),
      "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    store.merge(batch(Seq(("m1", "name", "alpha-v2"), ("m1", "task", "nlp")),
      "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))

    assert(store.retentionHorizon.isEmpty)
    val inHorizonBefore = store.asOf(ts("2024-03-15 00:00:00"))
      .select("obj").as[String].collect().toSet
    val closedBefore = store.ranges.filter(col("deprecated")).count()
    assert(closedBefore == 1) // alpha, useEnd = Feb extend < Mar

    // horizon Mar 15: alpha's closed range ended Mar 1 (the deprecation
    // stamp) < Mar 15, so it can never answer an in-horizon as-of →
    // purged; open ranges stay
    val dropped = store.compact(olderThan = ts("2024-03-15 00:00:00"))
    assert(dropped.nonEmpty)
    assert(store.retentionHorizon.contains(ts("2024-03-15 00:00:00")))
    assert(store.ranges.filter(col("deprecated")).count() == 0)
    assert(store.levelCount == 1)

    // as-of within the horizon is bit-for-bit unchanged
    assert(store.asOf(ts("2024-03-15 00:00:00"))
      .select("obj").as[String].collect().toSet == inHorizonBefore)
    // the current graph is unchanged too
    assert(store.currentTriples.count() == 2)
    // below the horizon: loud refusal, not a silently-wrong answer
    val e = intercept[IllegalArgumentException] {
      store.asOf(ts("2024-01-15 00:00:00"))
    }
    assert(e.getMessage.contains("retention horizon"))

    // horizons are monotone: a LATER pass with an earlier olderThan
    // cannot un-purge; the recorded horizon stays at the max
    store.merge(batch(Seq(("m1", "name", "alpha-v3"), ("m1", "task", "nlp")),
      "2024-04-01 00:00:00"), ts("2024-04-01 00:00:00"))
    store.compact(olderThan = ts("2024-02-01 00:00:00"))
    assert(store.retentionHorizon.contains(ts("2024-03-15 00:00:00")))
    intercept[IllegalArgumentException] {
      store.asOf(ts("2024-02-15 00:00:00"))
    }
    // and a pass with a later horizon advances it, purging the newly
    // out-of-horizon closed range (alpha-v2 closed at Apr 1)
    store.compact(olderThan = ts("2024-05-01 00:00:00"))
    assert(store.retentionHorizon.contains(ts("2024-05-01 00:00:00")))
    assert(store.ranges.filter(col("deprecated")).count() == 0)
    assert(store.asOf(ts("2024-05-15 00:00:00"))
      .select("obj").as[String].collect().toSet == Set("alpha-v3", "nlp"))
  }

  test("retention CLAIMS its version: merges land above the purged base") {
    // the silent-lost-update shape: retention's base lands under
    // `base=N` while a merge's delta lands under `v=N` — different dir
    // names, so the two could both "commit" and reconstruction would
    // mask the merge. The claim makes retention consume N itself: the
    // next merge must land at N+1, ABOVE the base, and survive.
    val dir = Files.createTempDirectory("graft_ts_claim").toFile
    try {
      val store = new TripletStore(spark, dir.getAbsolutePath,
        autoCompactEvery = 0)
      store.merge(batch(Seq(("m:1", "p", "a")), "2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"))
      val cur = store.currentVersion
      store.compact(olderThan = ts("2024-01-15 00:00:00"))
      // retention consumed cur+1 (claim) and its base sits there; the
      // claim delta PERSISTS (empty, masked by the base) so a straggler
      // merge that pinned v0 = cur before the claim still collides on
      // the rename instead of landing beside the base and being masked
      assert(store.currentVersion == cur + 1)
      assert(new java.io.File(dir, s"v=${cur + 1}").exists(),
        "the claim delta must stay to keep the version slot closed")
      val st = store.merge(batch(Seq(("m:2", "p", "b")), "2024-02-01 00:00:00"),
        ts("2024-02-01 00:00:00"))
      assert(st.nNew == 1)
      assert(store.currentVersion == cur + 2,
        "a post-retention merge must land above the base")
      assert(store.currentTriples.count() == 2,
        "both the pre-retention and post-retention triples are live")
    } finally Scratch.rm(dir)
  }

  test("retention fuzz: a concurrent merge is never silently masked") {
    // barrier-raced merge || compact(olderThan): whatever the
    // interleaving, the merged batch's OPEN rows must be present
    // afterwards (retention only purges closed ranges below the
    // horizon). The merge may lose the claim race (CME -> re-merge) or
    // scan a level the retention deleted (loud failure -> re-merge);
    // silence + missing rows is the one forbidden outcome.
    import java.util.concurrent.TimeUnit
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (0 until 3).foreach { round =>
      val dir = Files.createTempDirectory(s"graft_ts_rfuzz$round").toFile
      try {
        val store = new TripletStore(spark, dir.getAbsolutePath,
          autoCompactEvery = 0)
        store.merge(batch(Seq(("m:0", "p", "x")), "2024-01-01 00:00:00"),
          ts("2024-01-01 00:00:00"))
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val fM = Future {
          barrier.await(60, TimeUnit.SECONDS)
          var done = false
          var attempts = 0
          while (!done) {
            try {
              store.merge(batch(Seq((s"m:$round", "p", "y")),
                "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
              done = true
            } catch {
              case e: Throwable =>
                attempts += 1
                if (attempts > 5) throw e
            }
          }
        }
        val fR = Future {
          barrier.await(60, TimeUnit.SECONDS)
          store.compact(olderThan = ts("2024-01-15 00:00:00"))
        }
        Await.result(fM, 2.minutes)
        Await.result(fR, 2.minutes)
        val subjects = store.currentTriples.select("subject")
          .as[String].collect().toSet
        assert(subjects == Set("m:0", s"m:$round"),
          s"round $round: a racing merge was masked: $subjects")
      } finally Scratch.rm(dir)
    }
  }

  test("distinct extraction methods keep separate ranges (V2/J5)") {
    val dir = Files.createTempDirectory("store2").toString
    val store = new TripletStore(spark, dir)
    val b = batch(Seq(("m1", "name", "alpha")), "2024-01-01 00:00:00", "parserA")
      .unionByName(batch(Seq(("m1", "name", "alpha")), "2024-01-01 00:00:00", "parserB", 0.5))
    val s = store.merge(b, ts("2024-01-01 00:00:00"))
    assert(s.nNew == 2)
    assert(store.currentTriples.count() == 1) // same triple, two provenances
    assert(store.ranges.select("infoHash").distinct().count() == 2)
  }

  test("identity hash is delimiter- and null-safe (no field-shift collisions)") {
    // shifted field boundaries: ("urn:a","b:c") vs ("urn:ab",":c")
    // null-vs-value shifts: concat_ws skips nulls, so without per-field
    // coalescing (obj="k", objKind=null) and (obj=null, objKind="k")
    // concatenate identically
    val rows = Seq(
      ("urn:a", "b:c", "o", "literal", ""),
      ("urn:ab", ":c", "o", "literal", ""),
      ("s", "p", "k", null, ""),
      ("s", "p", null, "k", ""),
      ("s", "p", "o", "literal", null),
      ("s", "p", "o", "literal", ""))
    val df = rows.toDF("subject", "predicate", "obj", "objKind", "datatype")
      .withColumn("extractionMethod", lit("parser"))
      .withColumn("confidence", lit(1.0))
    val hashes = TripletStore.withIdentity(df)
      .select("tripletHash").as[String].collect()
    assert(hashes.distinct.length == rows.length,
      s"expected ${rows.length} distinct hashes, got ${hashes.distinct.length}")
  }

  test("merge scans the incoming batch exactly once (single-pass MERGE)") {
    val dir = Files.createTempDirectory("store4").toString
    val store = new TripletStore(spark, dir)
    // seed a snapshot so the merge join has both sides
    store.merge(batch(Seq(("m1", "name", "alpha"), ("m2", "name", "beta")),
      "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))

    val acc = spark.sparkContext.longAccumulator("incomingScans")
    val n = 3
    val instrumented = batch(Seq(
      ("m1", "name", "alpha-v2"), ("m2", "name", "beta"), ("m3", "name", "gamma")),
      "2024-02-01 00:00:00")
      .as[(String, String, String, String, String, String, Double, Timestamp)]
      .map { r => acc.add(1); r }
      .toDF("subject", "predicate", "obj", "objKind", "datatype",
        "extractionMethod", "confidence", "extractionTime")
    val s = store.merge(instrumented, ts("2024-02-01 00:00:00"))
    assert(s.nNew == 2 && s.nExtended == 1 && s.nDeprecated == 1)
    // pre-fix, the 4x join re-execution re-scanned the batch each time
    assert(acc.value == n, s"incoming scanned ${acc.value / n}x, want 1x")
  }

  test("uncommitted (torn) snapshot directories are invisible to readers") {
    val dir = Files.createTempDirectory("store5").toString
    val store = new TripletStore(spark, dir)
    store.merge(batch(Seq(("m1", "name", "alpha")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    assert(store.currentVersion == 0)
    // simulate a crash mid-write: a version dir without the _SUCCESS marker
    val torn = new java.io.File(dir, "v=1")
    torn.mkdirs()
    new java.io.File(torn, "part-00000.parquet").createNewFile()
    assert(store.currentVersion == 0, "torn snapshot must not become current")
    assert(store.currentTriples.count() == 1)
    // the next committed merge supersedes the torn directory
    store.merge(batch(Seq(("m1", "name", "beta")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    assert(store.currentVersion >= 1)
    assert(store.currentTriples.filter(col("obj") === "beta").count() == 1)
  }

  test("a store without the identity-format marker is refused, not re-keyed") {
    val dir = Files.createTempDirectory("store6").toString
    val store = new TripletStore(spark, dir)
    store.merge(batch(Seq(("m1", "name", "alpha")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    // simulate a pre-upgrade store: snapshots exist, marker absent
    new java.io.File(dir, TripletStore.FormatMarker).delete()
    val e = intercept[IllegalStateException](store.currentVersion)
    assert(e.getMessage.contains("identity-hash"))
  }

  test("compaction drops old snapshots, keeps latest readable") {
    val dir = Files.createTempDirectory("store3").toString
    val store = new TripletStore(spark, dir)
    (1 to 4).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    assert(store.currentVersion == 3)
    val dropped = store.compact(keep = 2)
    assert(dropped == Seq(0, 1))
    assert(store.currentVersion == 3)
    assert(store.currentTriples.filter(col("obj") === "v4").count() == 1)
    val (added, _) = store.delta(2, 3)
    assert(added.count() == 1) // remaining snapshots still delta-queryable
  }

  test("merge commits only changed rows (O(batch) write amplification)") {
    val dir = Files.createTempDirectory("store7").toString
    val store = new TripletStore(spark, dir)
    // 100 subjects x 1 triple, then a batch touching ONE subject
    val wide = (1 to 100).map(i => (s"m$i", "name", s"n$i"))
    store.merge(batch(wide, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    store.merge(batch(Seq(("m1", "name", "changed")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    // delta v=1 holds exactly the deprecated old row + the fresh one —
    // the 99 untouched ranges are NOT rewritten
    assert(spark.read.parquet(s"$dir/v=1").count() == 2)
    assert(store.ranges.count() == 101)
    assert(store.currentTriples.count() == 100)
  }

  test("reconstruction window and MERGE join share one store-side shuffle") {
    val dir = Files.createTempDirectory("store9").toString
    val store = new TripletStore(spark, dir)
    (1 to 2).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i"), ("m2", "kind", "x")),
        s"2024-0$i-01 00:00:00"), ts(s"2024-0$i-01 00:00:00"))
    }
    // rebuild the merge join's pre-checkpoint shape: open side = the
    // latest-writer-wins window; the full-outer join partitions on the
    // same (tripletHash, infoHash) key and must REUSE that exchange —
    // a second store-side shuffle here doubles the 100 TB merge cost
    val inc = TripletStore.withIdentity(
        batch(Seq(("m1", "name", "v3")), "2024-03-01 00:00:00"))
      .groupBy("tripletHash", "infoHash")
      .agg(first("subject").as("subject"))
    val j = store.ranges.filter(!col("deprecated")).as("o")
      .join(inc.as("i"),
        col("o.tripletHash") === col("i.tripletHash") &&
          col("o.infoHash") === col("i.infoHash"), "full_outer")
    j.collect()
    val exec = j.queryExecution.executedPlan.toString
    // store side: exactly one hash exchange on the identity key feeding
    // the window; none between the window and the join
    val windowToJoin = exec.split("SortMergeJoin|ShuffledHashJoin")
    assert(windowToJoin.length >= 2, s"no shuffle join in plan:\n$exec")
    val storeSide = windowToJoin(1) // first child printed under the join
    assert(storeSide.contains("Window"),
      s"store side lost its reconstruction window:\n$exec")
    val exchangesAboveWindow = storeSide.split("Window")(0)
      .split("Exchange hashpartitioning").length - 1
    assert(exchangesAboveWindow == 0,
      s"extra store-side exchange between window and join:\n$exec")
  }

  test("time-travel below the compaction horizon throws, not empty-result") {
    val dir = Files.createTempDirectory("store10").toString
    val store = new TripletStore(spark, dir)
    (1 to 3).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    store.compact(keep = 1) // horizon is now version 2
    // pre-fix, delta(0, 2) silently reported every live triple as "added"
    val e = intercept[IllegalArgumentException](store.delta(0, 2))
    assert(e.getMessage.contains("not retained"))
    // beyond-newest and never-written versions are equally unanswerable
    intercept[IllegalArgumentException](store.delta(2, 99))
    val empty = new TripletStore(spark,
      Files.createTempDirectory("store10b").toString)
    intercept[IllegalArgumentException](empty.delta(0, 1))
    // retained versions still answer
    assert(store.currentTriples.count() == 1)
  }

  test("compact retried after a crash between base commit and deletions") {
    val dir = Files.createTempDirectory("store11").toString
    val store = new TripletStore(spark, dir)
    (1 to 3).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    // stash the dirs a compaction will delete, compact, then restore them
    // — exactly the on-disk state of a crash after the base's _SUCCESS
    // but before any deletion
    val stash = Files.createTempDirectory("store11_stash").toFile
    Seq("v=0", "v=1", "v=2").foreach { nm =>
      val src = new java.io.File(dir, nm).toPath
      val dst = new java.io.File(stash, nm).toPath
      java.nio.file.Files.walk(src).forEach { p =>
        java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)))
      }
    }
    store.compact(keep = 1)
    Seq("v=0", "v=1", "v=2").foreach { nm =>
      val src = new java.io.File(stash, nm).toPath
      val dst = new java.io.File(dir, nm).toPath
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (!java.nio.file.Files.exists(t)) java.nio.file.Files.copy(p, t)
      }
    }
    val before = store.currentTriples.collect().toSeq
    // pre-fix this retried compact picked the same cut and Spark refused
    // with "Cannot overwrite a path that is also being read from"
    store.compact(keep = 1)
    assert(store.currentTriples.collect().toSeq == before)
    // the leftovers are gone; the committed base remains, plus v=cut —
    // deliberately KEPT (masked by the base) so a straggler merge that
    // pinned v0 = cut-1 before the base committed still collides on its
    // rename instead of landing at-or-below the base and being masked
    val names = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(names == Set("base=2", "v=2"), names.toString)
  }

  test("auto-compaction bounds the level count with no caller calls") {
    val dir = Files.createTempDirectory("store12").toString
    val store = new TripletStore(spark, dir,
      autoCompactEvery = 2, autoCompactKeep = 1)
    (1 to 6).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i"), (s"m$i", "kind", "x")),
        s"2024-0$i-01 00:00:00"), ts(s"2024-0$i-01 00:00:00"))
      val levels = new java.io.File(dir).listFiles()
        .count(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
      assert(levels <= 3, // autoCompactEvery + 1, transiently
        s"after merge $i: $levels committed levels")
    }
    // a long merge sequence stays readable and correct throughout
    assert(store.currentVersion == 5)
    assert(store.currentTriples
      .filter(col("predicate") === "name").select("obj")
      .as[String].collect().toSet == Set("v6"))
    // m1's kind fact is deprecated at batch 2 (m1 re-extracted without
    // it), so current = name v6 + kind for m2..m6
    assert(store.currentTriples.count() == 6)
    // autoCompactEvery = 0 disables the cadence entirely
    val dir2 = Files.createTempDirectory("store12b").toString
    val manual = new TripletStore(spark, dir2, autoCompactEvery = 0)
    (1 to 5).foreach { i =>
      manual.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    assert(new java.io.File(dir2).listFiles()
      .count(_.getName.startsWith("base=")) == 0)
  }

  test("null-subject rows merge like any other identity (extend, deprecate)") {
    val dir = Files.createTempDirectory("store13").toString
    val store = new TripletStore(spark, dir)
    val nullSubj = Seq((null.asInstanceOf[String], "name", "alpha"))
    store.merge(batch(nullSubj, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    // pre-fix the subject semi-join dropped null subjects (null != null),
    // so this re-merge opened a second shadowing range instead of
    // extending — and the old row could never be deprecated
    val s2 = store.merge(batch(nullSubj, "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    assert(s2.nNew == 0 && s2.nExtended == 1 && s2.nDeprecated == 0, s2.toString)
    assert(store.ranges.count() == 1)
    val s3 = store.merge(
      batch(Seq((null.asInstanceOf[String], "name", "beta")),
        "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))
    assert(s3.nNew == 1 && s3.nDeprecated == 1, s3.toString)
    assert(store.currentTriples.select("obj").as[String].collect().toSet ==
      Set("beta"))
  }

  test("base and delta files are subject-clustered (disjoint subject ranges)") {
    val dir = Files.createTempDirectory("store14").toString
    // tiny targetRowsPerFile forces multiple files at toy scale; 2 subject
    // buckets so each bucket partition holds enough rows to split;
    // bucketMinRows = 1 forces the bucketed layout below its default floor
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      targetRowsPerFile = 25L, subjectBuckets = 2, bucketMinRows = 1L)
    val wide = (1 to 100).map(i => (s"m$i", "name", s"n$i"))
    store.merge(batch(wide, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    store.merge(batch(wide.map { case (s, p, _) => (s, p, "changed") },
      "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    store.compact(keep = 1)
    // the clustering contract holds WITHIN each bucket partition: the
    // sort leads with (sbkt, subject), so a file never spans buckets and
    // inside a bucket the SUBJECT ranges are disjoint across files —
    // that subject ordering is what lets a literal subject predicate
    // prune row groups/files via parquet footer stats inside a touched
    // bucket (the within-bucket continuation of partition pruning)
    def assertClustered(d: String): Unit = {
      val bucketDirs = new java.io.File(d).listFiles()
        .filter(f => f.isDirectory &&
          f.getName.startsWith(s"${TripletStore.BucketCol}="))
      assert(bucketDirs.nonEmpty, s"$d: no bucket partitions")
      val multi = bucketDirs.map { bd =>
        val files = bd.listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        val ranges = files.map { f =>
          val hs = spark.read.parquet(f).select("subject")
            .as[String].collect()
          assert(hs.sameElements(hs.sorted), s"$f not sorted inside")
          (hs.min, hs.max)
        }.sortBy(_._1)
        ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
          assert(hi <= lo, s"$bd: overlapping file key ranges [$hi] vs [$lo]")
        }
        files.length
      }
      assert(multi.max > 1, s"$d: want a bucket with multiple files, got $multi")
    }
    assertClustered(s"$dir/base=1")
    // a fresh delta on top of the base is clustered the same way
    store.merge(batch(wide.map { case (s, p, _) => (s, p, "again") },
      "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))
    assertClustered(s"$dir/v=2")
  }

  test("pre-bucket stores migrate in place: read-old, write-new, rebucket at compact") {
    val dir = Files.createTempDirectory("store_mig").toString
    // fabricate a format-3 PRE-BUCKET store: one plain (unpartitioned)
    // committed delta plus the format marker, no _BUCKETS marker — the
    // exact on-disk state a store written before the bucketed layout has
    val legacy = TripletStore.withIdentity(batch(
        Seq(("m1", "name", "alpha"), ("m2", "name", "beta")),
        "2024-01-01 00:00:00"))
      .withColumn("useStart", col("extractionTime"))
      .withColumn("useEnd", col("extractionTime"))
      .withColumn("deprecated", lit(false))
      .withColumn("v", lit(0))
      .select(TripletStore.physSchema.fieldNames.map(col).toIndexedSeq: _*)
    legacy.write.parquet(s"$dir/v=0")
    java.nio.file.Files.writeString(
      new java.io.File(dir, TripletStore.FormatMarker).toPath,
      TripletStore.IdentityFormat.toString)

    // bucketMinRows = 1: force the bucketed layout at toy scale (by
    // default only lake-sized levels bucket)
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      bucketMinRows = 1L)
    assert(store.currentTriples.count() == 2)
    // a merge reads the legacy level in full (correct, unpruned) and
    // writes its delta under the NEW bucketed layout
    val s = store.merge(batch(Seq(("m1", "name", "alpha-v2")),
      "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    assert(s.nNew == 1 && s.nDeprecated == 1, s.toString)
    def hasBuckets(nm: String): Boolean =
      new java.io.File(dir, nm).listFiles()
        .exists(f => f.isDirectory &&
          f.getName.startsWith(s"${TripletStore.BucketCol}="))
    assert(hasBuckets("v=1"), "new delta must be bucketed")
    assert(!hasBuckets("v=0"), "legacy level untouched by the merge")
    assert(new java.io.File(dir, TripletStore.BucketMarker).exists(),
      "the first bucketed write pins the store's bucket count")
    // correctness across the mixed layout
    assert(store.currentTriples.filter(col("obj") === "alpha-v2").count() == 1)
    assert(store.currentTriples.count() == 2)
    // one-shot rebucket: compaction folds the legacy level into a
    // bucketed base — the store is fully bucketed from here on
    store.compact(keep = 1)
    assert(hasBuckets("base=1"), "compacted base must be bucketed")
    assert(!new java.io.File(dir, "v=0").exists(), "legacy level swept")
    assert(store.currentTriples.filter(col("obj") === "alpha-v2").count() == 1)
    assert(store.ranges.count() == 3) // 2 open + 1 closed
  }

  test("lifecycle: later compactions sweep superseded retention claims") {
    // a long-lived store interleaving merges, retention passes and
    // compactions must not accumulate one stray v= dir per retention
    // pass: each claim delta is swept as soon as a LATER pass supersedes
    // its version — at every stage the disk holds exactly the live level
    // set (newest base + claim-or-deltas at/above it)
    val dir = Files.createTempDirectory("store_claims").toFile
    def dirs(): Set[String] = dir.listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith(".tmp-"))
      .map(_.getName).toSet
    try {
      val store = new TripletStore(spark, dir.getAbsolutePath,
        autoCompactEvery = 0)
      store.merge(batch(Seq(("m1", "p", "a")), "2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"))                       // v=0
      store.compact(olderThan = ts("2024-01-15 00:00:00")) // base=1 + claim v=1
      assert(dirs() == Set("base=1", "v=1"), dirs().toString)
      store.merge(batch(Seq(("m2", "p", "b")), "2024-02-01 00:00:00"),
        ts("2024-02-01 00:00:00"))                       // v=2
      // a SECOND retention pass sweeps the first pass's base AND claim
      store.compact(olderThan = ts("2024-02-15 00:00:00")) // base=3 + claim v=3
      assert(dirs() == Set("base=3", "v=3"), dirs().toString)
      store.merge(batch(Seq(("m3", "p", "c")), "2024-03-01 00:00:00"),
        ts("2024-03-01 00:00:00"))                       // v=4
      store.merge(batch(Seq(("m4", "p", "d")), "2024-04-01 00:00:00"),
        ts("2024-04-01 00:00:00"))                       // v=5
      // version compaction sweeps the retention pass's base+claim once
      // they fall below the cut, and leaves its OWN kept v=cut
      store.compact(keep = 2)                            // cut=4
      assert(dirs() == Set("base=4", "v=4", "v=5"), dirs().toString)
      store.merge(batch(Seq(("m5", "p", "e")), "2024-05-01 00:00:00"),
        ts("2024-05-01 00:00:00"))                       // v=6
      store.compact(keep = 1)                            // cut=6
      assert(dirs() == Set("base=6", "v=6"), dirs().toString)
      assert(store.currentTriples.count() == 5)
    } finally Scratch.rm(dir)
  }

  test("point lookup returns exactly the subjects' current triples") {
    val dir = Files.createTempDirectory("store_lookup").toString
    val store = new TripletStore(spark, dir, bucketMinRows = 1L)
    store.merge(batch(Seq(
      ("m1", "name", "alpha"), ("m1", "task", "nlp"),
      ("m2", "name", "beta"), ("m3", "name", "gamma")),
      "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    store.merge(batch(Seq(("m1", "name", "alpha-v2"), ("m1", "task", "nlp")),
      "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    // current (not deprecated) triples of m1 and m3 only; m404 absent
    val got = store.currentTriplesFor(Seq("m1", "m3", "m404"))
      .select("subject", "obj").as[(String, String)].collect().toSet
    assert(got == Set(("m1", "alpha-v2"), ("m1", "nlp"), ("m3", "gamma")), got)
    // a pre-bucket (unbucketed) store answers the same lookup unpruned
    val dir2 = Files.createTempDirectory("store_lookup2").toString
    val plain = new TripletStore(spark, dir2) // default floor: plain levels
    plain.merge(batch(Seq(("m1", "name", "alpha")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    assert(plain.currentTriplesFor(Seq("m1")).count() == 1)
  }

  test("a merge landing in a compaction-reopened slot throws, never masks") {
    // keeping v=cut closes only the cut-1 straggler; compaction DELETES
    // the dropped v= dirs, reopening THOSE slots — a writer pinned two+
    // versions stale renames into one without collision and its delta
    // sits at-or-below the base, permanently masked by levelsAt. The
    // post-commit mask guard must convert that silent lost update into
    // the loud retry path.
    val dir = Files.createTempDirectory("store_reopen").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0)
    (1 to 4).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    // a writer pinned at v0=0 whose store-side READ completes before the
    // owner's compaction deletes v=0/v=1 (the levelsAt hook materializes
    // the read, then interleaves compact(keep=2) — deterministically the
    // read-then-delete-then-rename window): its rename to v=1 SUCCEEDS
    // (slot reopened), and only the post-commit mask guard stands
    // between that and a silently masked delta
    val stale: TripletStore = new TripletStore(spark, dir, autoCompactEvery = 0) {
      override def currentVersion: Int = 0
      override private[graft] def levelsAt(v: Int, bucketsFor: Option[Int => Seq[Int]])
          : Option[org.apache.spark.sql.DataFrame] = {
        val out = super.levelsAt(v, bucketsFor).map(_.localCheckpoint())
        store.compact(keep = 2) // base=2, v=2 kept; v=0, v=1 DELETED
        out
      }
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      stale.merge(batch(Seq(("m9", "name", "ghost")), "2024-05-01 00:00:00"),
        ts("2024-05-01 00:00:00"))
    }
    assert(!new java.io.File(dir, "v=0").exists(), "compaction interleaved")
    assert(e.getMessage.contains("masked") || e.getMessage.contains("reopened"),
      e.getMessage)
    // nothing landed: no masked delta on disk, winner state intact
    assert(!new java.io.File(dir, "v=1").exists(),
      "the masked delta must be removed, not left below the base")
    assert(store.currentTriples.filter(col("obj") === "ghost").count() == 0)
    assert(store.currentTriples.filter(col("obj") === "v4").count() == 1)
    // and the retry path lands it correctly above the base
    val st = new TripletStore(spark, dir, autoCompactEvery = 0)
      .merge(batch(Seq(("m9", "name", "ghost")), "2024-05-01 00:00:00"),
        ts("2024-05-01 00:00:00"))
    assert(st.nNew == 1)
    assert(store.currentTriples.filter(col("obj") === "ghost").count() == 1)
  }

  test("commit race: the losing writer throws, the winner's state survives") {
    val dir = Files.createTempDirectory("store9").toString
    val store = new TripletStore(spark, dir)
    store.merge(batch(Seq(("m1", "name", "alpha")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    store.merge(batch(Seq(("m1", "name", "winner")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00")) // commits v=1 — the race winner
    // a writer whose snapshot read happened before the winner's commit:
    // pin its version view to the stale value so it targets v=1 too
    val stale = new TripletStore(spark, dir) {
      override def currentVersion: Int = 0
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      stale.merge(batch(Seq(("m1", "name", "loser")), "2024-02-02 00:00:00"),
        ts("2024-02-02 00:00:00"))
    }
    assert(e.getMessage.contains("lost the commit race"))
    // the winner's committed version is untouched and the loser left no
    // visible state — only the race error
    assert(store.currentVersion == 1)
    assert(store.currentTriples.filter(col("obj") === "winner").count() == 1)
    assert(store.currentTriples.filter(col("obj") === "loser").count() == 0)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".tmp-")),
      "the losing writer must clean up its temp dir")
  }

  test("compaction sweeps dead writers' commit temp dirs, spares live ones") {
    val dir = Files.createTempDirectory("store10").toString
    val store = new TripletStore(spark, dir)
    (1 to 2).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    val dead = new java.io.File(dir, ".tmp-v7-deadbeef")
    dead.mkdirs()
    dead.setLastModified(
      System.currentTimeMillis() - TripletStore.TmpSweepAgeMs - 60000)
    val live = new java.io.File(dir, ".tmp-v7-cafecafe")
    live.mkdirs() // fresh mtime = a writer mid-commit
    store.compact(keep = 1)
    assert(!dead.exists(), "an expired tmp dir is a dead writer's garbage")
    assert(live.exists(), "a fresh tmp dir may belong to a live writer")
    assert(store.currentTriples.filter(col("obj") === "v2").count() == 1)
  }

  test("compaction crash leftovers (superseded deltas) are ignored on read") {
    val dir = Files.createTempDirectory("store8").toString
    val store = new TripletStore(spark, dir)
    (1 to 3).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    store.compact(keep = 1)
    // simulate the crash window: a superseded delta left behind AFTER the
    // base committed — levelsAt must skip it, not double-count its rows
    spark.read.parquet(s"$dir/base=2").limit(1)
      .withColumn("v", lit(1))
      .write.parquet(s"$dir/v=1")
    val before = store.ranges.count()
    store.merge(batch(Seq(("m1", "name", "v4")), "2024-04-01 00:00:00"),
      ts("2024-04-01 00:00:00"))
    assert(store.currentVersion == 3)
    // the open v3 row flips to closed (replaced, not added); fresh v4 adds 1
    assert(store.ranges.count() == before + 1)
    assert(store.currentTriples.filter(col("obj") === "v4").count() == 1)
  }

  test("as-of point lookup: a subject's history at a timestamp, horizon-gated") {
    val dir = Files.createTempDirectory("store_asof_pl").toString
    val store = new TripletStore(spark, dir, bucketMinRows = 1L)
    store.merge(batch(Seq(
      ("m1", "name", "alpha"), ("m2", "name", "beta"), ("m3", "name", "gamma")),
      "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    store.merge(batch(Seq(("m1", "name", "alpha-v2"), ("m3", "name", "gamma")),
      "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))
    // mid-February: m1's ORIGINAL name still answers (its range closed
    // at the March merge), m2 untouched, m404 absent
    val feb = store.currentTriplesFor(Seq("m1", "m2", "m404"),
        ts("2024-02-01 00:00:00"))
      .select("subject", "obj").as[(String, String)].collect().toSet
    assert(feb == Set(("m1", "alpha"), ("m2", "beta")), feb)
    // April: the current graph's slice — m1's refreshed value
    val apr = store.currentTriplesFor(Seq("m1", "m2", "m404"),
        ts("2024-04-01 00:00:00"))
      .select("subject", "obj").as[(String, String)].collect().toSet
    assert(apr == Set(("m1", "alpha-v2"), ("m2", "beta")), apr)
    // the whole-store as-of and the point lookup agree at every probe
    Seq("2024-02-01 00:00:00", "2024-04-01 00:00:00").foreach { t =>
      val whole = store.asOf(ts(t)).filter(col("subject").isin("m1", "m2"))
        .select("subject", "obj").as[(String, String)].collect().toSet
      val point = store.currentTriplesFor(Seq("m1", "m2"), ts(t))
        .select("subject", "obj").as[(String, String)].collect().toSet
      assert(whole == point, s"$t: $whole vs $point")
    }
    // after time-retention the below-horizon lookup THROWS like asOf —
    // purged closed ranges must never silently answer
    store.compact(olderThan = ts("2024-03-15 00:00:00"))
    intercept[IllegalArgumentException] {
      store.currentTriplesFor(Seq("m1"), ts("2024-02-01 00:00:00"))
    }
    Scratch.rm(new java.io.File(dir))
  }

  test("subject restriction: literal pushdown and semi-join fallback agree") {
    // the SAME store read through both reconstruction paths — below the
    // cap (literal isin, pushed to the scans) and above it (null-safe
    // semi-join) — must answer identically, null subject included
    val dir = Files.createTempDirectory("store_litcap").toString
    // cap = 3: a 4-subject batch falls back to the semi-join path
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      bucketMinRows = 1L, subjectLiteralCap = 3)
    store.merge(batch(Seq(
      ("m1", "name", "a"), ("m2", "name", "b"), ("m3", "name", "c"),
      ("m4", "name", "d"), (null, "name", "nullsub")),
      "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    // 5 distinct subjects (incl. null) > cap: the merge's deprecation
    // arm must still see every touched subject via the semi-join
    val s2 = store.merge(batch(Seq(
      ("m1", "name", "a2"), ("m2", "name", "b"), ("m3", "name", "c"),
      ("m4", "name", "d"), (null, "name", "nullsub2")),
      "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    assert(s2.nNew == 2 && s2.nDeprecated == 2 && s2.nExtended == 3, s2)
    // a 2-subject merge rides the literal path — same arms, same result
    val s3 = store.merge(batch(Seq(
      ("m1", "name", "a3"), (null, "name", "nullsub2")),
      "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))
    assert(s3.nNew == 1 && s3.nDeprecated == 1 && s3.nExtended == 1, s3)
    // both lookup paths agree (null can't ride Seq[String] lookups; the
    // named subjects answer identically below and above the cap)
    val subs = Seq("m1", "m2", "m3", "m4")
    val lit = store.currentTriplesFor(subs) // 4 > cap=3: semi-join
      .select("subject", "obj").as[(String, String)].collect().toSet
    val lit2 = store.currentTriplesFor(subs.take(2)) // literal path
      .select("subject", "obj").as[(String, String)].collect().toSet
    assert(lit == Set(("m1", "a3"), ("m2", "b"), ("m3", "c"), ("m4", "d")), lit)
    assert(lit2 == Set(("m1", "a3"), ("m2", "b")), lit2)
    Scratch.rm(new java.io.File(dir))
  }

  test("bucket count: auto-derived from the first lake-sized level, pin wins races") {
    // auto-sizing: with no explicit seed, the first bucketed commit pins
    // ~one bucket per target file, clamped to the [64, 4096] band —
    // at toy scale rows/target clamps UP to the floor; with a tiny
    // target the derived value escapes the floor
    val dir = Files.createTempDirectory("store_autoN").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      targetRowsPerFile = 2L, bucketMinRows = 1L)
    val wide = (1 to 150).map(i => (s"m$i", "name", s"n$i"))
    store.merge(batch(wide, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    val pinned = java.nio.file.Files.readString(
      new java.io.File(dir, TripletStore.BucketMarker).toPath).trim.toInt
    assert(pinned == 75, s"150 rows / 2 per file should derive 75, got $pinned")
    // a second handle with a DIFFERENT explicit seed must follow the pin
    // (exclusive publish + read-back: a level bucketed under a modulus
    // disagreeing with the marker would make pruning silently drop rows)
    val other = new TripletStore(spark, dir, autoCompactEvery = 0,
      targetRowsPerFile = 2L, bucketMinRows = 1L, subjectBuckets = 4)
    other.merge(batch(Seq(("m1", "name", "changed")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    assert(java.nio.file.Files.readString(
      new java.io.File(dir, TripletStore.BucketMarker).toPath).trim.toInt == 75)
    // the lookup prunes by the PINNED modulus and still answers right
    assert(other.currentTriplesFor(Seq("m1"))
      .select("obj").as[String].collect().toSet == Set("changed"))
    // an explicit seed on a FRESH store still wins over auto-derivation
    val dir2 = Files.createTempDirectory("store_autoN2").toString
    val seeded = new TripletStore(spark, dir2, autoCompactEvery = 0,
      targetRowsPerFile = 2L, bucketMinRows = 1L, subjectBuckets = 4)
    seeded.merge(batch(wide.take(20), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    assert(java.nio.file.Files.readString(
      new java.io.File(dir2, TripletStore.BucketMarker).toPath).trim.toInt == 4)
    Scratch.rm(new java.io.File(dir)); Scratch.rm(new java.io.File(dir2))
  }

  test("driver-side bucket id equals the write-side column expression") {
    // bucketsFn/subjectBucketLocal evaluates the SAME Catalyst XxHash64 (seed 42) on the
    // driver that subjectBucket codegens on executors — any drift
    // (seed, sentinel, pmod semantics) would silently prune live rows,
    // so parity is pinned over a sample including null and unicode
    val sample: Seq[String] = Seq("m1", "doc:42", "http://m/123", "",
      "über/模型", "a b", null) ++ (0 until 64).map(i => s"s$i")
    Seq(2, 8, 64, 75, 4096).foreach { n =>
      val viaColumn = sample.toDF("subject")
        .select(TripletStore.subjectBucket(col("subject"), n))
        .collect().map(_.getInt(0)).toSeq
      val viaDriver = sample.map(TripletStore.subjectBucketLocal(_, n))
      assert(viaColumn == viaDriver, s"n=$n: $viaColumn vs $viaDriver")
    }
  }

  test("compaction is single-owner: a second owner throws, a dead one is taken over") {
    val dir = Files.createTempDirectory("store_cclaim").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0) {
      override protected def claimLivenessWindowMs: Long = 300L
    }
    (1 to 3).foreach { i =>
      store.merge(batch(Seq(("m1", "name", s"v$i")), s"2024-0$i-01 00:00:00"),
        ts(s"2024-0$i-01 00:00:00"))
    }
    // owner A mid-pass: a FRESH claim (marker + its sidecar) stands,
    // taken by a second store through the real writer
    val ownerA = new TripletStore(spark, dir, autoCompactEvery = 0)
      .claimCompaction()
    val marker = new java.io.File(dir, TripletStore.CompactionMarker)
    val sidecarA = TripletStore.CompactionSeqMarker + ownerA
    val dirsBefore = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(dirsBefore.contains(TripletStore.CompactionMarker) &&
      dirsBefore.contains(sidecarA), dirsBefore)
    val e = intercept[TripletStore.ConcurrentCompactionException] {
      store.compact(keep = 1)
    }
    assert(e.getMessage.contains("single-owner"), e.getMessage)
    // the loser touched NOTHING and left nothing: no base built, no level
    // deleted, no sidecar of its own, and owner A's claim still stands
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet
      == dirsBefore)
    assert(java.nio.file.Files.readString(marker.toPath).trim == ownerA)
    // owner A is dead (its claim never changes): the intercept above
    // already STARTED this claimant's observation window; once the
    // window passes on the claimant's own clock with no observed
    // progress, the marker is taken over and the pass runs to
    // completion, releasing the claim
    Thread.sleep(400)
    val dropped = store.compact(keep = 1)
    assert(dropped.nonEmpty)
    assert(!marker.exists(), "a completed pass must release its claim")
    assert(!new java.io.File(dir, sidecarA).exists(),
      "the takeover removes the dead owner's sidecar")
    assert(store.currentTriples.filter(col("obj") === "v3").count() == 1)
    // retention claims through the same gate
    val storeB = new TripletStore(spark, dir, autoCompactEvery = 0)
    val ownerB = storeB.claimCompaction()
    intercept[TripletStore.ConcurrentCompactionException] {
      store.compact(olderThan = ts("2024-02-15 00:00:00"))
    }
    storeB.releaseCompaction(ownerB)
    store.compact(olderThan = ts("2024-02-15 00:00:00"))
    assert(!marker.exists())
    Scratch.rm(new java.io.File(dir))
  }

  test("large literal lists (native In path, >10 values) answer identically") {
    // >10 literals rides Spark's ABOVE-threshold native In path (the
    // session threshold is deliberately never raised — in_pushdown_r14
    // measured the native path pruning by stats+bloom with no or-tree
    // cliff). The semantics must be identical to the small-list or-tree
    // form, nulls included, through lookup AND merge.
    val dir = Files.createTempDirectory("store_natin").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      bucketMinRows = 1L)
    val wide = (1 to 40).map(i => (s"m$i", "name", s"a$i")) :+
      ((null: String, "name", "nullsub"))
    store.merge(batch(wide, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    // 40-subject lookup: one native In, no chunking, no join
    val subs = (1 to 40).map(i => s"m$i")
    val lookup = store.currentTriplesFor(subs)
    assert(lookup.count() == 40)
    assert(lookup.filter(col("subject") === "m7").select("obj")
      .as[String].collect().toSet == Set("a7"))
    // a 41-subject batch (> threshold, < cap) merges through the same
    // literal read: extend/deprecate/fresh all correct, null included
    val s2 = store.merge(batch(
      (1 to 40).map(i => (s"m$i", "name", if (i % 2 == 0) s"a$i" else s"b$i"))
        :+ ((null: String, "name", "null2")),
      "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    assert(s2.nExtended == 20 && s2.nDeprecated == 21 && s2.nNew == 21, s2)
    assert(store.currentTriplesFor(Seq("m3")).select("obj")
      .as[String].collect().toSet == Set("b3"))
    Scratch.rm(new java.io.File(dir))
  }

  test("bucket count re-derives at compaction; mixed-moduli levels read correctly") {
    // r13 residual: the N pin was forever — a store that starts small
    // kept its day-one N at any scale. Compaction is the re-pin moment
    // (single-owner, rewrites the base anyway); per-level `_SBKT_N`
    // self-description is what makes it safe while old-N deltas survive.
    val dir = Files.createTempDirectory("store_repin").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      targetRowsPerFile = 2L, bucketMinRows = 1L)
    // day one: 150 rows / 2 per file derives 75 (above the 64 floor, so
    // the later re-pin doubling is observable against a non-clamped pin)
    val wide = (1 to 150).map(i => (s"m$i", "name", s"n$i"))
    store.merge(batch(wide, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    val marker = new java.io.File(dir, TripletStore.BucketMarker)
    assert(java.nio.file.Files.readString(marker.toPath).trim.toInt == 75)
    // every bucketed level self-describes its modulus, atomic with the
    // commit
    val lvl1 = new java.io.File(dir, "v=0")
    assert(java.nio.file.Files.readString(new java.io.File(lvl1,
      TripletStore.LevelBucketMarker).toPath).trim.toInt == 75)
    // the store grows ~10x, then compacts with keep=2: ONE old-N delta
    // SURVIVES above the new base, so the read path must handle two
    // moduli live at once
    val big = (1 to 1400).map(i => (s"g$i", "name", s"v$i"))
    store.merge(batch(big, "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    store.merge(batch(Seq(("m7", "name", "changed"), ("g9", "name", "gnew")),
      "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00"))
    store.compact(keep = 2)
    // base=1 carries 1550 rows → candidate 775 >= 2*75 → re-pinned
    val n1 = java.nio.file.Files.readString(marker.toPath).trim.toInt
    assert(n1 == 775, s"1550 rows / 2 per file should re-derive 775, got $n1")
    assert(java.nio.file.Files.readString(new java.io.File(
      new java.io.File(dir, "base=1"),
      TripletStore.LevelBucketMarker).toPath).trim.toInt == n1,
      "the rebucketed base must self-describe the NEW modulus")
    assert(java.nio.file.Files.readString(new java.io.File(
      new java.io.File(dir, "v=2"),
      TripletStore.LevelBucketMarker).toPath).trim.toInt == 75,
      "the surviving delta keeps self-describing its OLD modulus")
    // point lookups across BOTH moduli answer correctly: m7 lives in the
    // old-N delta (changed) and the new-N base (shadowed open row),
    // m8/g1 only in the new-N base
    assert(store.currentTriplesFor(Seq("m7")).select("obj")
      .as[String].collect().toSet == Set("changed"))
    assert(store.currentTriplesFor(Seq("m8", "g1")).select("obj")
      .as[String].collect().toSet == Set("n8", "v1"))
    // merges after the re-pin bucket by the new N
    store.merge(batch(Seq(("z1", "name", "fresh")), "2024-04-01 00:00:00"),
      ts("2024-04-01 00:00:00"))
    assert(java.nio.file.Files.readString(new java.io.File(
      new java.io.File(dir, "v=3"),
      TripletStore.LevelBucketMarker).toPath).trim.toInt == n1)
    assert(store.currentTriplesFor(Seq("z1")).count() == 1)
    // the full state is intact end-to-end (window + mixed moduli):
    // 150 m-subjects + 1400 g-subjects (m7/g9 values replaced 1:1) + z1
    assert(store.currentTriples.count() == 150 + 1400 + 1)
    // an EXPLICITLY seeded store never auto-re-pins: the pin is the
    // caller's contract
    val dir2 = Files.createTempDirectory("store_repin2").toString
    val seeded = new TripletStore(spark, dir2, autoCompactEvery = 0,
      targetRowsPerFile = 2L, bucketMinRows = 1L, subjectBuckets = 8)
    seeded.merge(batch(wide, "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    seeded.merge(batch(big, "2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))
    seeded.compact(keep = 1)
    assert(java.nio.file.Files.readString(new java.io.File(dir2,
      TripletStore.BucketMarker).toPath).trim.toInt == 8)
    Scratch.rm(new java.io.File(dir)); Scratch.rm(new java.io.File(dir2))
  }

  test("a deployment-raised In threshold cannot re-form a cliff-deep or-tree") {
    // the store never raises spark.sql.parquet.pushdown.inFilterThreshold
    // itself, but a deployment commonly does — an In at or below the
    // threshold pushes as an or-of-equals whose evaluation recursion
    // StackOverflows past the measured cliff (1024 ok, 1536 task-fatal).
    // reconstruct must split such lists into measured-safe chunks: with
    // the threshold raised to 5000, a 2000-subject lookup would have
    // died pre-defense; chunked it answers.
    val dir = Files.createTempDirectory("store_rthresh").toString
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "6000")
      val store = new TripletStore(spark, dir, autoCompactEvery = 0,
        bucketMinRows = 1L)
      store.merge(batch((1 to 6000).map(i => (s"m$i", "name", s"a$i")),
        "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
      // 2000 subjects → 4 chunks of 512 under the balanced Or
      val subs = (1 to 2000).map(i => s"m$i")
      val lookup = store.currentTriplesFor(subs)
      assert(lookup.count() == 2000)
      assert(lookup.filter(col("subject") === "m1999").select("obj")
        .as[String].collect().toSet == Set("a1999"))
      // 5000 subjects → 10 chunks: the balanced pairwise reduction keeps
      // the deepest pushed path at one chunk + log2(#chunks) (~516), so
      // widening the list must not walk back toward the (1024, 1536]
      // cliff the way the old left-associative reduce (+#chunks-1
      // linear depth, unmeasured territory) did
      val subs5k = (1 to 5000).map(i => s"m$i")
      val lookup5k = store.currentTriplesFor(subs5k)
      assert(lookup5k.count() == 5000)
      assert(lookup5k.filter(col("subject") === "m4999").select("obj")
        .as[String].collect().toSet == Set("a4999"))
    } finally {
      spark.conf.set(key, before)
      Scratch.rm(new java.io.File(dir))
    }
  }

  test("disaster-recovery floor: a claim stale past 24x the window falls to first sight") {
    // observation memory is process-local; an EPHEMERAL claimant (fresh
    // JVM per batch run) never lives a full window, so without a floor a
    // crashed claim would block auto-compaction forever. A claim whose
    // sidecar's mtime age exceeds 24x the window is taken over on FIRST
    // sight — the one remaining clock comparison, at a bound (a full day
    // at production settings) where wrongful takeover needs >24h skew.
    val dir = Files.createTempDirectory("store_floor").toString
    def mk() = new TripletStore(spark, dir, autoCompactEvery = 0) {
      override protected def claimLivenessWindowMs: Long = 500L
    }
    mk().merge(batch(Seq(("m1", "name", "a")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    mk().merge(batch(Seq(("m1", "name", "b")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    val marker = new java.io.File(dir, TripletStore.CompactionMarker)
    // a crashed owner's claim, long dead: its sidecar's last beat is old
    def deadClaim(ageMs: Long): (TripletStore, String) = {
      val owner = mk()
      val token = owner.claimCompaction()
      assert(new java.io.File(dir, TripletStore.CompactionSeqMarker + token)
        .setLastModified(System.currentTimeMillis() - ageMs))
      (owner, token)
    }
    deadClaim(24L * 500 + 60000)
    // a FRESH claimant instance (no observation memory) reclaims at once
    assert(mk().compact(keep = 1).nonEmpty,
      "an ancient crashed claim must not require a second observation")
    assert(!marker.exists())
    // but a claim merely *somewhat* stale (inside the floor) still
    // needs the observed-frozen window — no first-sight takeover
    val (owner2, token2) = deadClaim(2000)
    intercept[TripletStore.ConcurrentCompactionException] {
      mk().compact(keep = 1)
    }
    owner2.releaseCompaction(token2)
    Scratch.rm(new java.io.File(dir))
  }

  test("torn int-marker reads retry briefly, then fail with the fs contract") {
    // publishMarkerExclusive's CREATE_NEW fallback (link-incapable fs)
    // documents that a reader racing the winner's in-flight content
    // write can observe a SHORT file; pinBucketN used to crash
    // that reader with a bare NumberFormatException. The bounded retry
    // absorbs the milliseconds-long torn window; persistent garbage
    // still fails loudly, now naming the link-capable-fs contract.
    val dir = Files.createTempDirectory("store_torn").toString
    val store = new TripletStore(spark, dir)
    val m = new java.io.File(dir, "_PROBE")
    java.nio.file.Files.writeString(m.toPath, "")
    val filler = new Thread(() => {
      Thread.sleep(60)
      java.nio.file.Files.writeString(m.toPath, "64")
    })
    filler.start()
    assert(store.readMarkerInt(m) == 64,
      "an in-flight marker write must be retried, not crashed on")
    filler.join(2000)
    java.nio.file.Files.writeString(m.toPath, "not-an-int")
    val e = intercept[IllegalStateException] { store.readMarkerInt(m) }
    assert(e.getMessage.contains("link-capable"), e.getMessage)
    Scratch.rm(new java.io.File(dir))
  }

  test("a bucketed level without its modulus fails pruned reads loudly") {
    // every bucketed level self-describes its modulus (_SBKT_N); a level
    // without one predates that and its bucket ids cannot be trusted
    // against any store-wide guess — pruning by the wrong modulus would
    // silently drop live rows, so pruned reads and merges refuse it
    val dir = Files.createTempDirectory("store_nomod").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      bucketMinRows = 1L, subjectBuckets = 8)
    store.merge(batch((1 to 20).map(i => (s"m$i", "name", s"n$i")),
      "2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    store.merge(batch(Seq(("m7", "name", "changed")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    assert(new java.io.File(new java.io.File(dir, "v=1"),
      TripletStore.LevelBucketMarker).delete())
    var rows: Option[Long] = None
    val e1 = intercept[IllegalStateException] {
      rows = Some(store.currentTriplesFor(Seq("m7")).count())
    }
    assert(e1.getMessage.contains("v=1") &&
      e1.getMessage.contains("predates per-level self-description"),
      e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      rows = Some(store.merge(batch(Seq(("m8", "name", "again")),
        "2024-03-01 00:00:00"), ts("2024-03-01 00:00:00")).nNew)
    }
    assert(e2.getMessage.contains("v=1"), e2.getMessage)
    assert(rows.isEmpty, "neither read may return rows")
    assert(store.currentVersion == 1, "the refused merge must not commit")
    Scratch.rm(new java.io.File(dir))
  }

  test("one layout law: bucketed levels self-describe after every write path") {
    // merge, compact(keep) (with a bucket re-pin) and compact(olderThan)
    // each leave only self-described bucketed levels,
    // no other level-dir generation, and the current graph of a fresh
    // unbucketed replay of the same batches
    val dir = Files.createTempDirectory("store_layout").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0,
      targetRowsPerFile = 1L, bucketMinRows = 1L)
    val replayDir = Files.createTempDirectory("store_replay").toString
    val replay = new TripletStore(spark, replayDir, autoCompactEvery = 0)
    def mergeBoth(rows: Seq[(String, String, String)], t: String): Unit = {
      store.merge(batch(rows, t), ts(t))
      replay.merge(batch(rows, t), ts(t))
    }
    def triples(df: DataFrame) =
      df.select("subject", "predicate", "obj").as[(String, String, String)]
        .collect().toSet
    val probe = Seq("m1", "m6", "m70", "g1", "g80")
    def law(root: java.io.File, st: TripletStore, step: String): Unit = {
      val levels = root.listFiles().toSeq.filter(f => f.isDirectory &&
        new java.io.File(f, "_SUCCESS").exists())
      assert(levels.forall(f => f.getName.startsWith("v=") ||
        f.getName.startsWith("base=")), s"$step: ${levels.map(_.getName)}")
      val bucketed = levels.filter(_.listFiles().exists(c =>
        c.isDirectory && c.getName.startsWith(s"${TripletStore.BucketCol}=")))
      assert(bucketed.nonEmpty, s"$step: the law needs a bucketed level")
      bucketed.foreach(f => assert(
        new java.io.File(f, TripletStore.LevelBucketMarker).exists(),
        s"$step: ${f.getName} lacks ${TripletStore.LevelBucketMarker}"))
      assert(triples(st.currentTriples) == triples(replay.currentTriples), step)
      assert(triples(st.currentTriplesFor(probe)) ==
        triples(replay.currentTriplesFor(probe)), step)
    }
    val root = new java.io.File(dir)
    mergeBoth((1 to 70).map(i => (s"m$i", "name", s"n$i")), "2024-01-01 00:00:00")
    mergeBoth((1 to 80).map(i => (s"g$i", "name", s"v$i")) ++
      (1 to 5).map(i => (s"m$i", "name", s"x$i")), "2024-02-01 00:00:00")
    mergeBoth(Seq(("m6", "name", "y6"), ("g1", "name", "y1")),
      "2024-03-01 00:00:00")
    law(root, store, "merge")
    val pinned = Files.readString(
      new java.io.File(dir, TripletStore.BucketMarker).toPath).trim.toInt
    store.compact(keep = 2)
    val repinned = Files.readString(
      new java.io.File(dir, TripletStore.BucketMarker).toPath).trim.toInt
    assert(repinned >= 2 * pinned, s"expected a re-pin from $pinned, got $repinned")
    law(root, store, "compact(keep)")
    mergeBoth(Seq(("m70", "name", "z70"), ("g80", "name", "z80")),
      "2024-04-01 00:00:00")
    law(root, store, "merge after re-pin")
    store.compact(olderThan = ts("2024-02-15 00:00:00"))
    law(root, store, "compact(olderThan)")
    Seq(root, new java.io.File(replayDir)).foreach(Scratch.rm)
  }

  test("claim liveness is clock-free: skewed mtime survives, frozen seq is taken over") {
    // liveness is the owner's sidecar sequence, observed across the
    // claimant's own monotonic-clock window; the marker's mtime is never
    // read, so an mtime stamped hours in the past (clock skew, coarse
    // mtime fidelity) cannot make a live owner look dead
    val dir = Files.createTempDirectory("store_hb").toString
    val windowMs = 600L
    val store = new TripletStore(spark, dir, autoCompactEvery = 0) {
      override protected def claimLivenessWindowMs: Long = windowMs
    }
    store.merge(batch(Seq(("m1", "name", "a")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    store.merge(batch(Seq(("m1", "name", "b")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    val marker = new java.io.File(dir, TripletStore.CompactionMarker)
    val token = store.claimCompaction()
    val seq = new java.io.File(dir, TripletStore.CompactionSeqMarker + token)
    val twoHoursPast = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    // owner ALIVE: heartbeat bumps the sequence sidecar every beat while
    // the test pins the marker mtime two hours in the past
    val hb = store.startCompactionHeartbeat(token, intervalMs = 25)
    try {
      val deadline = System.nanoTime() + 3 * windowMs * 1000000L
      var attempts = 0
      while (System.nanoTime() < deadline) {
        marker.setLastModified(twoHoursPast)
        intercept[TripletStore.ConcurrentCompactionException] {
          store.compact(keep = 1)
        }
        attempts += 1
        Thread.sleep(40)
      }
      assert(attempts >= 3, "the attack loop must span several windows")
      assert(java.nio.file.Files.readString(marker.toPath).trim == token,
        "a beating owner must survive sustained takeover attempts " +
          "regardless of how stale its marker mtime LOOKS")
      assert(java.nio.file.Files.readString(seq.toPath).trim
        .startsWith(token), "the heartbeat publishes <token> <seq>")
    } finally { hb.interrupt(); hb.join(2000) }
    // owner genuinely dead (sequence frozen), its marker mtime RECENT:
    // observe-no-progress takes it over after one observed-frozen
    // window, whatever the marker's age says in either direction
    java.nio.file.Files.setLastModifiedTime(marker.toPath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    intercept[TripletStore.ConcurrentCompactionException] {
      store.compact(keep = 1) // first sighting only STARTS the window
    }
    Thread.sleep(windowMs + 100)
    assert(store.compact(keep = 1).nonEmpty,
      "a frozen claim must be taken over after one observed window")
    assert(!marker.exists(), "a completed takeover pass releases the claim")
    assert(!seq.exists(), "the takeover removes the dead owner's sidecar")
    // a heartbeat observing a FOREIGN token stops signalling (ownership
    // lost): the new owner's liveness is its own to maintain
    java.nio.file.Files.writeString(marker.toPath, "newOwner1")
    val past = System.currentTimeMillis() - 120000
    assert(marker.setLastModified(past))
    assert(!store.heartbeatCompaction(token))
    assert(marker.lastModified() == past,
      "a lost heartbeat must not touch the new owner's marker")
    assert(!seq.exists(),
      "a lost heartbeat must not publish a sequence under a foreign claim")
    marker.delete()
    Scratch.rm(new java.io.File(dir))
  }

  test("a claim's marker never stands without its sidecar; losers leave no file") {
    // several claimants race real claim / heartbeat / release cycles
    // while a watcher checks, on every marker it sees, that the owner's
    // sidecar exists (the claim publishes the sidecar first, release and
    // takeover remove it last) — re-reading the marker after a missing
    // sidecar tells a release in flight from a violation
    val dir = Files.createTempDirectory("store_sidecar").toString
    val marker = new java.io.File(dir, TripletStore.CompactionMarker)
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val claims = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var running = true
    def read(f: java.io.File): Option[String] =
      scala.util.Try(java.nio.file.Files.readString(f.toPath).trim).toOption
    val watcher = new Thread(() => while (running) {
      read(marker).foreach { t =>
        if (!new java.io.File(dir, TripletStore.CompactionSeqMarker + t).exists() &&
            read(marker).contains(t))
          violations.add(s"marker $t stood without its sidecar")
      }
    })
    // stores built up front: the session must not start inside the race
    val stores = (0 until 3).map(_ => new TripletStore(spark, dir, autoCompactEvery = 0))
    val claimants = stores.zipWithIndex.map { case (store, i) => new Thread(() => {
      val rnd = new scala.util.Random(i)
      while (running) {
        try {
          val token = store.claimCompaction()
          claims.incrementAndGet()
          val hb = store.startCompactionHeartbeat(token, intervalMs = 5)
          Thread.sleep(5 + rnd.nextInt(20))
          hb.interrupt(); hb.join()
          store.releaseCompaction(token)
        } catch {
          case _: TripletStore.ConcurrentCompactionException =>
            losses.incrementAndGet()
        }
      }
    })}
    (watcher +: claimants).foreach(_.start())
    Thread.sleep(1500)
    running = false
    (watcher +: claimants).foreach(_.join(10000))
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    assert(claims.get() >= 3 && losses.get() >= 1,
      s"${claims.get()} claims, ${losses.get()} losses: the race never ran")
    assert(new java.io.File(dir).list().isEmpty,
      s"left behind: ${new java.io.File(dir).list().mkString(", ")}")
    Scratch.rm(new java.io.File(dir))
  }

  test("deletion phase re-verifies the claim token; release restores a foreign marker") {
    val dir = Files.createTempDirectory("store_verify").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0)
    store.merge(batch(Seq(("m1", "name", "a")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    val marker = new java.io.File(dir, TripletStore.CompactionMarker)
    // claim held: verify passes
    val token = store.claimCompaction()
    store.verifyCompactionClaim(token)
    // taken over mid-pass (JVM pause past the window): verify THROWS —
    // the pass aborts with its base committed and nothing deleted
    java.nio.file.Files.writeString(marker.toPath, "takeover1")
    val e = intercept[TripletStore.ConcurrentCompactionException] {
      store.verifyCompactionClaim(token)
    }
    assert(e.getMessage.contains("NO level was deleted"), e.getMessage)
    // release after losing the claim: the grab/verify/restore recipe
    // puts the NEW owner's marker back instead of deleting it
    store.releaseCompaction(token)
    assert(marker.exists(), "release must restore a foreign live marker")
    assert(java.nio.file.Files.readString(marker.toPath).trim == "takeover1")
    // release of OUR OWN claim removes the marker
    java.nio.file.Files.writeString(marker.toPath, token)
    store.releaseCompaction(token)
    assert(!marker.exists())
    // and releasing when no marker stands is a no-op (already taken)
    store.releaseCompaction(token)
    Scratch.rm(new java.io.File(dir))
  }

  test("release's foreign-marker restore survives a link-incapable filesystem") {
    // r13 ADVICE: the restore swallowed EVERY IOException from
    // createLink then deleted the grab — on a no-hardlink fs a
    // takeover-then-release silently erased the new live owner's
    // marker. Port of BatchedSignatureStore's move-back fallback.
    val dir = Files.createTempDirectory("store_nolink").toString
    val store = new TripletStore(spark, dir, autoCompactEvery = 0) {
      override protected def createMarkerLink(
          target: java.nio.file.Path, source: java.nio.file.Path): Unit =
        throw new UnsupportedOperationException("no hard links here")
    }
    store.merge(batch(Seq(("m1", "name", "a")), "2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"))
    val marker = new java.io.File(dir, TripletStore.CompactionMarker)
    // a takeover owner's live marker stands; our stale release must not
    // destroy it even though the exclusive-link restore is unavailable
    java.nio.file.Files.writeString(marker.toPath, "liveOwner2")
    store.releaseCompaction("staleTok1")
    assert(marker.exists(),
      "move-back fallback must restore the live owner's marker")
    assert(java.nio.file.Files.readString(marker.toPath).trim == "liveOwner2")
    assert(!new java.io.File(dir, ".tmp-release-staleTok1").exists(),
      "the grabbed copy moved back, nothing strands")
    // and the pass itself still completes end-to-end on such a fs
    store.merge(batch(Seq(("m1", "name", "b")), "2024-02-01 00:00:00"),
      ts("2024-02-01 00:00:00"))
    marker.delete()
    assert(store.compact(keep = 1).nonEmpty)
    assert(!marker.exists())
    Scratch.rm(new java.io.File(dir))
  }

  test("dir-copy replica continues a mutating pass identically to a private rebuild") {
    // the store layout is self-contained (parquet + relative marker
    // files, no absolute paths), so a plain file copy of the committed
    // two-merge state is a working store — the same compact + merge tail
    // yields identical ranges either way
    val b1 = batch(Seq(
      ("m1", "name", "alpha"), ("m1", "task", "nlp"),
      ("m2", "name", "beta")), "2024-01-01 00:00:00")
    val b2 = batch(Seq(
      ("m1", "name", "alpha"), ("m2", "name", "gamma")),
      "2024-02-01 00:00:00")
    val b3 = batch(Seq(("m3", "name", "delta")), "2024-03-01 00:00:00")

    val srcDir = Files.createTempDirectory("store_tpl").toString
    val tpl = new TripletStore(spark, srcDir)
    tpl.merge(b1, ts("2024-01-01 00:00:00"))
    tpl.merge(b2, ts("2024-02-01 00:00:00"))

    def tail(store: TripletStore): Set[(String, String, String, Long, Long, Boolean)] = {
      store.compact(keep = 1)
      store.merge(b3, ts("2024-03-01 00:00:00"))
      store.ranges.select(col("subject"), col("predicate"), col("obj"),
          expr("unix_micros(useStart)"), expr("unix_micros(useEnd)"),
          col("deprecated"))
        .as[(String, String, String, Long, Long, Boolean)].collect().toSet
    }

    val copyRoot = Files.createTempDirectory("store_cp").toFile
    val src = new java.io.File(srcDir).toPath
    val tree = Files.walk(src)
    try tree.forEach { f =>
      val t = copyRoot.toPath.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally tree.close()
    val replica = new TripletStore(spark, copyRoot.getAbsolutePath)

    val direct = tail(tpl)
    assert(tail(replica) == direct)
    Scratch.rm(new java.io.File(srcDir))
    Scratch.rm(copyRoot)
  }
}
