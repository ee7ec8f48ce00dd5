package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.multimodal.BinaryPipeline.MediaRow

class MediaDedupIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // large deterministic payloads: enough distinct windows that one byte
  // flip stays within the banded-Hamming acceptance radius
  private def payload(seed: Int): Array[Byte] =
    Array.tabulate(400)(i => ((i * 131 + i / 7 + seed * 977) % 251).toByte)

  test("acceptance: exact dup and byte-perturbed near dup drop; distinct keeps") {
    val base = payload(0)
    val perturbed = base.clone(); perturbed(200) = (perturbed(200) ^ 0x5a).toByte
    val media = Seq(
      MediaRow(1L, base, "image/png"),
      MediaRow(2L, base.clone(), "image/png"), // exact dup of 1
      MediaRow(3L, perturbed, "image/png"),    // near dup of 1
      MediaRow(4L, payload(9), "image/png"))   // distinct
      .toDS()
    val dir = Files.createTempDirectory("media_idx").toString
    val idx = new MediaDedupIndex(spark, dir)
    val stats = idx.ingest(media)
    assert(stats.nIn == 4 && stats.nAdded == 2 && stats.nDropped == 2, stats)
    assert(idx.signatures.select("media_id").as[Long].collect().toSet ==
      Set(1L, 4L))
    // second batch: a near dup of an INDEXED payload drops against the
    // standing index; a fresh payload lands
    val p2 = payload(9).clone(); p2(100) = (p2(100) ^ 0x11).toByte
    val s2 = idx.ingest(Seq(
      MediaRow(5L, p2, "image/png"),
      MediaRow(6L, payload(23), "image/png")).toDS())
    assert(s2.nAdded == 1 && s2.nDropped == 1, s2)
    assert(idx.signatures.count() == 3)
    assert(idx.size == 3)
  }

  test("non-cascading within-batch rule: a dropped row still drops larger ids") {
    // hand-crafted signatures make the cascade geometry exact:
    //   a = 0
    //   b = bits 0-4 set   → ham(a,b)=5 ≤ 6, shares bands 1-3 with a → drops vs a
    //   c = b | bits 12-16 → ham(b,c)=5 ≤ 6, shares band 0 with b → must drop
    //       vs b EVEN THOUGH b itself dropped; ham(a,c)=10 > 6, so c
    //       survives iff the rule cascades (the bug this test pins out)
    val a = 0L
    val b = 0x1fL
    val c = b | (0x1fL << 12)
    assert(java.lang.Long.bitCount(a ^ c) > graft.queries.MediaDedup.MaxHamming)
    val batch = Seq((10L, a), (11L, b), (12L, c)).toDF("media_id", "sig")
    val empty = Seq.empty[(Long, Long)].toDF("media_id", "sig")
    val out = MediaDedupIndex.acceptancePlan(batch, empty)
      .select("media_id").as[Long].collect().toSeq
    assert(out == Seq(10L), s"survivors $out — the within-batch rule cascaded")
  }

  test("a hot INDEX bucket is capped out of candidate generation") {
    // index: six signatures sharing band0 = 0x5; r0's high part differs
    // from the probe by one bit in EACH of bands 1-3 (ham 3 ≤ 6 — a true
    // near dup reachable ONLY through band0); the other five are ≥ 8 bits
    // away. Uncapped, the probe drops vs r0. With the band0 bucket over
    // cap, its only candidate path is gone and the probe is ACCEPTED —
    // the honest LSH contract under the cap.
    val aHigh = 1L | (1L << 12) | (1L << 24)
    val probe = (aHigh << 12) | 0x5L
    val r0 = 0x5L // high = 0: shares only band0 with the probe
    val far = Seq(0x7fL, 0xfeL, 0x1fcL, 0x3f8L, 0x7f0L)
      .map(h => (h << 12) | 0x5L)
    (far :+ r0).foreach(s => assert(
      java.lang.Long.bitCount(s ^ probe) <= 6 == (s == r0)))
    val idx = (far :+ r0).zipWithIndex
      .map { case (s, i) => (100L + i, s) }.toDF("media_id", "sig")
    val batch = Seq((500L, probe)).toDF("media_id", "sig")
    def survivors(cap: Int) = MediaDedupIndex.acceptancePlan(batch, idx, cap)
      .select("media_id").as[Long].collect().toSet
    assert(survivors(1000) == Set.empty[Long], "uncapped: near dup must drop")
    assert(survivors(4) == Set(500L), "capped hot bucket: probe accepted")
  }

  test("a hot WITHIN-BATCH bucket is capped out of candidate generation") {
    // six batch rows share band0 = 0x7: five pairwise-far signatures
    // (disjoint 7-bit runs, ham 14) plus y = x0 with one bit flipped in
    // each of bands 1-3 (ham 3, shares ONLY band0 with x0). Uncapped, y
    // drops vs the smaller-id x0; with the bucket over cap it survives.
    val xs = (0 until 5).map(j => ((0x7fL << (7 * j)) << 12) | 0x7L)
    val y = ((0x7fL ^ 1L | (1L << 12) | (1L << 24)) << 12) | 0x7L
    assert(java.lang.Long.bitCount(xs.head ^ y) == 3)
    val batch = (xs.zipWithIndex.map { case (s, i) => (20L + i, s) } :+
      (29L, y)).toDF("media_id", "sig")
    val empty = Seq.empty[(Long, Long)].toDF("media_id", "sig")
    def survivors(cap: Int) = MediaDedupIndex.acceptancePlan(batch, empty, cap)
      .select("media_id").as[Long].collect().toSet
    val keep5 = (20L until 25L).toSet
    assert(survivors(1000) == keep5, "uncapped: y drops vs x0")
    assert(survivors(5) == keep5 + 29L, "capped hot bucket: y accepted")
  }

  test("streaming intake equals direct batch ingests") {
    val rows1 = (0 until 20).map(i => MediaRow(i.toLong, payload(i % 7), "x"))
    val rows2 = (20 until 40).map(i => MediaRow(i.toLong, payload(i % 11), "x"))
    // direct: two ingests
    val directDir = Files.createTempDirectory("media_direct").toString
    val direct = new MediaDedupIndex(spark, directDir)
    direct.ingest(rows1.toDS())
    direct.ingest(rows2.toDS())
    // streaming: the same two batches as single-file micro-batches
    // through mediaIntake (the feed pattern of SCALE.md § Streaming)
    val watch = Files.createTempDirectory("media_watch")
    val streamDir = Files.createTempDirectory("media_stream").toString
    val schema = rows1.toDS().toDF().schema
    def feed(rows: Seq[MediaRow], n: Int): Unit = {
      val stage = Files.createTempDirectory(s"media_stage_$n")
      rows.toDS().toDF().coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = Files.list(stage)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, watch.resolve(f"b$n%03d.parquet"))
    }
    feed(rows1, 1)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(watch.toString)
    val q = graft.streaming.StreamingCorpus.mediaIntake(stream, streamDir)
      .start()
    q.processAllAvailable()
    feed(rows2, 2)
    q.processAllAvailable()
    q.stop()
    val d = direct.signatures.select("media_id", "sig")
      .as[(Long, Long)].collect().toSet
    val s = new MediaDedupIndex(spark, streamDir).signatures
      .select("media_id", "sig").as[(Long, Long)].collect().toSet
    assert(s == d, s"stream=$s direct=$d")
  }
}
