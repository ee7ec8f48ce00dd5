package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.load.TripletStore

/** Streaming load path (§2.12 → §2.11): a file stream of extraction
  * batches drives the versioned store's MERGE through `foreachBatch` —
  * the Structured-Streaming restatement of the reference's
  * scheduled-incremental loads. Each micro-batch is one logical update:
  * late re-extractions are absorbed by V3's `useEnd := max(seen)`
  * semantics exactly as in batch mode.
  */
object StreamingLoad {

  /** Incoming extraction-record schema (what ModelCardPipeline.toTriples
    * emits, parquet-encoded). */
  val tripleSchema: StructType = StructType(Seq(
    StructField("subject", StringType), StructField("predicate", StringType),
    StructField("obj", StringType), StructField("objKind", StringType),
    StructField("datatype", StringType),
    StructField("extractionMethod", StringType),
    StructField("confidence", DoubleType),
    StructField("extractionTime", TimestampType)))

  def readTripleStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(tripleSchema)
      .option("maxFilesPerTrigger", 1) // one extraction batch per micro-batch
      .parquet(dir)

  /** Start the merge stream. Each micro-batch merges at its own max
    * extraction time (the logical load clock). The store's delta layout
    * accrues one level per micro-batch; the store's OWN auto-compaction
    * cadence (TripletStore `autoCompactEvery`, on by default) bounds the
    * level count, so an always-on stream never makes snapshot
    * reconstruction scan an ever-growing delta list — size the cadence
    * on the store, not here. */
  def start(stream: DataFrame, store: TripletStore,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // ONE scaffolding job per micro-batch: the count in the
        // max-extraction-time aggregate answers emptiness, so no separate
        // `batch.isEmpty` job runs for one scalar. An all-null
        // extractionTime batch (count > 0, null max) merges at a null
        // clock.
        val agg = batch.agg(max(col("extractionTime")), count(lit(1))).head()
        if (agg.getLong(1) > 0L) {
          store.merge(batch, agg.getTimestamp(0))
          ()
        }
      }
      .start()
}
