package graft.similarity

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Incremental dedup: batches check themselves and the standing signature
  * index — exact by fingerprint, near by MinHash band — and only
  * survivors' signatures are appended. */
class DedupIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact and near dups drop within-batch and against the index") {
    val dir = Files.createTempDirectory("dedup_idx").toString
    val idx = new DedupIndex(spark, dir)

    val base = "the quick brown fox jumps over the lazy dog again and again"
    val s1 = idx.ingest(docs(
      1L -> base,
      2L -> "a completely different document about spark query planning",
      3L -> "short"))
    assert(s1.nIn == 3 && s1.nAdded == 3 && s1.nDropped == 0)
    assert(idx.size == 3)

    val s2 = idx.ingest(docs(
      4L -> base,                       // exact dup of doc 1 -> drop
      // IDENTICAL token sequence as doc 1 (runs of spaces collapse under
      // \s+ tokenization) -> identical shingle set -> identical MinHash
      // bands, but a different fingerprint: near-dup -> drop
      5L -> base.replace(" ", "  "),
      6L -> "entirely new content that matches nothing in the index",
      7L -> "entirely new content that matches nothing in the index"))
      // 7 is an exact dup of 6 within the batch -> keep 6, drop 7
    assert(s2.nIn == 4, s2)
    assert(s2.nAdded == 1, s2)
    assert(s2.nDropped == 3, s2)
    assert(idx.size == 4)
    assert(idx.signatures.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 6L))

    // idempotent: re-ingesting the same batch adds nothing
    val s3 = idx.ingest(docs(8L -> base, 9L -> (base + " " + base)))
    assert(s3.nAdded == 0 && idx.size == 4)
  }

  test("compaction folds batches into one; dedup behavior unchanged") {
    val dir = Files.createTempDirectory("dedup_idx3").toString
    val idx = new DedupIndex(spark, dir)
    idx.ingest(docs(1L -> "alpha beta gamma delta"))
    idx.ingest(docs(2L -> "epsilon zeta eta theta"))
    idx.ingest(docs(3L -> "iota kappa lambda mu"))
    assert(idx.size == 3)
    assert(idx.compact() == 1)
    assert(idx.size == 3)
    // post-compaction dedup still sees the whole index
    val s = idx.ingest(docs(4L -> "alpha beta gamma delta"))
    assert(s.nAdded == 0)
  }

  test("crash after consolidated commit, before cleanup: masked reads, owner-driven cleanup") {
    val dir = Files.createTempDirectory("dedup_crash1").toString
    val idx = new DedupIndex(spark, dir)
    idx.ingest(docs(1L -> "alpha beta gamma delta"))
    idx.ingest(docs(2L -> "epsilon zeta eta theta"))
    // simulate compact() dying between the b=2 commit and old-dir removal:
    // tokened marker + consolidated batch carrying the matching _MAINT
    // token file, b=0/b=1 still on disk
    idx.signatures.write.parquet(s"$dir/b=2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "b=2/_MAINT-tok1"), Array.empty[Byte])
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_COMPACT_PENDING"), "2\ntok1".getBytes("UTF-8"))
    // read path: superseded dirs are MASKED immediately — a mere reader
    // instance takes no destructive action (the marker and old dirs stay,
    // so the crashed owner's recovery evidence survives construction)
    val reopened = new DedupIndex(spark, dir)
    assert(reopened.size == 2, "old batches must not double-count")
    assert(new java.io.File(dir, "b=0").exists(),
      "a reader must not delete the crashed owner's superseded dirs")
    assert(new java.io.File(dir, "_COMPACT_PENDING").exists(),
      "a reader must not clear the crashed owner's marker")
    // the next maintenance entry finishes the physical cleanup
    assert(reopened.compact() == 1)
    assert(reopened.size == 2)
    assert(!new java.io.File(dir, "b=0").exists())
    assert(!new java.io.File(dir, "_COMPACT_PENDING").exists())
  }

  test("crash before consolidated commit: old batches stand; maintenance rolls back") {
    val dir = Files.createTempDirectory("dedup_crash2").toString
    val idx = new DedupIndex(spark, dir)
    idx.ingest(docs(1L -> "alpha beta gamma delta"))
    idx.ingest(docs(2L -> "epsilon zeta eta theta"))
    // marker written, consolidated dir torn (no _SUCCESS — a
    // pre-rename-protocol writer's shape; the rename protocol itself
    // can only leave .tmp- garbage)
    new java.io.File(dir, "b=2").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "b=2/part-junk"), "x".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_COMPACT_PENDING"), "2\ntok2".getBytes("UTF-8"))
    val reopened = new DedupIndex(spark, dir)
    assert(reopened.size == 2, "old batches must survive a rolled-back compact")
    // a FRESH unmatched marker is presumed an in-flight pass on another
    // owner: maintenance refuses loudly rather than deleting its marker
    intercept[BatchedSignatureStore.ConcurrentMaintenanceException] {
      reopened.compact()
    }
    assert(new java.io.File(dir, "_COMPACT_PENDING").exists())
    // once the marker ages past the in-flight window the pass is
    // presumed dead: the rerun rolls the torn write back, then completes
    new java.io.File(dir, "_COMPACT_PENDING").setLastModified(
      System.currentTimeMillis() - BatchedSignatureStore.MaintInFlightMs - 1000)
    assert(reopened.compact() == 1)
    assert(reopened.size == 2)
    assert(!new java.io.File(dir, "_COMPACT_PENDING").exists())
  }

  test("a racing ingest's batch at the marker's target id is never deleted") {
    // the recovery-ambiguity case the token exists for: marker names
    // b=2, but the committed b=2 carries NO matching token — it is a
    // concurrent serialized ingest's REAL data (the maintenance that
    // wrote the marker lost its rename and rolled back, or died before
    // committing). Recovery must keep b=2 AND the older batches.
    val dir = Files.createTempDirectory("dedup_crash3").toString
    val idx = new DedupIndex(spark, dir)
    idx.ingest(docs(1L -> "alpha beta gamma delta"))
    idx.ingest(docs(2L -> "epsilon zeta eta theta"))
    idx.ingest(docs(3L -> "iota kappa lambda mu")) // b=2: a real ingest
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_COMPACT_PENDING"), "2\ntokX".getBytes("UTF-8"))
    // aged past the in-flight window: the dead pass rolls back
    new java.io.File(dir, "_COMPACT_PENDING").setLastModified(
      System.currentTimeMillis() - BatchedSignatureStore.MaintInFlightMs - 1000)
    val reopened = new DedupIndex(spark, dir)
    assert(reopened.size == 3, "no masking without a token match")
    assert(reopened.compact() == 1)
    assert(reopened.size == 3,
      "recovery must not delete live batches below an ingest's commit")
  }

  test("a tokenless pending marker is refused loudly, store untouched") {
    // a marker without an owner token (left by a crashed pre-token pass)
    // cannot tell its own committed consolidation from a racing ingest's
    // batch: finishing could delete live batches, and the unmatched-token
    // rollback would resurrect the rows that pass's sweep evicted. Reads
    // and maintenance both throw the declared error instead.
    val dir = Files.createTempDirectory("dedup_crash4").toString
    val idx = new DedupIndex(spark, dir)
    idx.ingest(docs(1L -> "alpha beta gamma delta"))
    idx.ingest(docs(2L -> "epsilon zeta eta theta"))
    // a sweep that kept only doc 2 landed b=2, then crashed
    idx.signatures.filter(org.apache.spark.sql.functions.col("doc_id") === 2L)
      .write.parquet(s"$dir/b=2")
    val marker = new java.io.File(dir, "_COMPACT_PENDING")
    java.nio.file.Files.write(marker.toPath, "2".getBytes("UTF-8"))
    // aged past the in-flight window, so the tokened path would roll back
    marker.setLastModified(
      System.currentTimeMillis() - BatchedSignatureStore.MaintInFlightMs - 1000)
    val reopened = new DedupIndex(spark, dir)
    val e = intercept[BatchedSignatureStore.UntokenedMarkerException] {
      reopened.compact()
    }
    assert(e.getMessage.contains("b=2"), e.getMessage)
    intercept[BatchedSignatureStore.UntokenedMarkerException] {
      reopened.size
    }
    intercept[BatchedSignatureStore.UntokenedMarkerException] {
      reopened.ingest(docs(3L -> "iota kappa lambda mu"))
    }
    assert(marker.exists(), "the marker is evidence and must survive")
    assert(Seq("b=0", "b=1", "b=2").forall(n => new java.io.File(dir, n).exists()),
      "no batch dir may be deleted or rolled back")
    assert(!new java.io.File(dir, "b=3").exists())
  }

  test("empty and shingle-less docs still dedup exactly") {
    val dir = Files.createTempDirectory("dedup_idx2").toString
    val idx = new DedupIndex(spark, dir)
    val s1 = idx.ingest(docs(1L -> "", 2L -> "one two", 3L -> ""))
    assert(s1.nAdded == 2) // the two empties collapse to one
    val s2 = idx.ingest(docs(4L -> "", 5L -> "one two"))
    assert(s2.nAdded == 0)
  }
}
