package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

class VectorIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables(spark, TestSpark.sf0001, "embeddings")
    .select($"vec_id", $"embedding")

  private def rows(idx: VectorIndex): Set[(Long, Int, String, Double)] =
    idx.table.select($"vec_id", $"cell", hex($"sq8_codes"), $"dn")
      .as[(Long, Int, String, Double)].collect().toSet

  test("streaming intake equals the direct two-batch ingest, models frozen at batch 1") {
    val b1 = emb.filter($"vec_id" % 2 === 0)
    val b2 = emb.filter($"vec_id" % 2 =!= 0)

    val direct = new VectorIndex(spark,
      Files.createTempDirectory("vidx_direct").toString)
    direct.ingest(b1)
    val modelsAfterB1 = direct.models.get
    direct.ingest(b2)
    // second ingest must NOT refit: frozen centroids/ranges bit-identical
    val modelsAfterB2 = direct.models.get
    assert(modelsAfterB1._1.centroids.map(_.toSeq).toSeq ==
      modelsAfterB2._1.centroids.map(_.toSeq).toSeq)
    assert(modelsAfterB1._2.mins.toSeq == modelsAfterB2._2.mins.toSeq)

    // same two batches through a REAL stream (arrival order pinned by
    // processAllAvailable between file drops)
    val srcDir = Files.createTempDirectory("vidx_stream_src")
    val streamIdxPath = Files.createTempDirectory("vidx_stream").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = Files.createTempDirectory(s"vidx_slice_$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, srcDir.resolve(s"$name.parquet"))
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val q = graft.streaming.StreamingCorpus.vectorIntake(stream, streamIdxPath)
      .start()
    try {
      drop(b1, "a"); q.processAllAvailable()
      drop(b2, "b"); q.processAllAvailable()
    } finally q.stop()

    val streamed = new VectorIndex(spark, streamIdxPath)
    assert(rows(streamed) == rows(direct))
    assert(direct.size == emb.count())
  }

  test("probed search over the accumulated index: nprobe=k recovers exact top-5 with high recall") {
    val idx = new VectorIndex(spark, Files.createTempDirectory("vidx_s").toString)
    val corpus = emb.filter($"vec_id" >= 10)
    idx.ingest(corpus.filter($"vec_id" % 2 === 0))
    idx.ingest(corpus.filter($"vec_id" % 2 =!= 0))
    val queries = emb.filter($"vec_id" < 5)
    val got = idx.search(queries, topK = 5, nprobe = 8)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val exact = graft.queries.VectorOps.cosineTopK(spark, TestSpark.sf0001)
      .filter($"query_id" < 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (got & exact).size.toDouble / exact.size
    // nprobe=k scans every cell, so the only loss is SQ8 rounding —
    // Sq8Spec pins the same >= 0.9 floor for dequantized ranking
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("compaction preserves the search result and the row multiset") {
    val idx = new VectorIndex(spark, Files.createTempDirectory("vidx_c").toString)
    idx.ingest(emb.filter($"vec_id" % 3 === 0))
    idx.ingest(emb.filter($"vec_id" % 3 === 1))
    idx.ingest(emb.filter($"vec_id" % 3 === 2))
    val queries = emb.filter($"vec_id" < 5)
    val before = idx.search(queries, 5, 2)
      .as[(Long, Long, Double)].collect().toSet
    val rowsBefore = rows(idx)
    assert(idx.compact() == 1)
    assert(rows(idx) == rowsBefore)
    assert(idx.search(queries, 5, 2)
      .as[(Long, Long, Double)].collect().toSet == before)
  }

  test("codecDrift flags a shifted batch, stays quiet in-distribution") {
    val idx = new VectorIndex(spark, Files.createTempDirectory("vidx_d").toString)
    idx.ingest(emb)
    val (oorSame, shareSame) = idx.codecDrift(emb)
    assert(oorSame == 0.0, s"in-distribution out-of-range frac $oorSame")
    assert(shareSame < 0.9) // frozen cells still spread the same corpus
    val shifted = emb.select($"vec_id",
      transform($"embedding".cast("array<double>"), x => x + lit(100.0))
        .as("embedding"))
    val (oorShift, _) = idx.codecDrift(shifted)
    assert(oorShift > 0.9, s"shifted out-of-range frac $oorShift")
  }
}
