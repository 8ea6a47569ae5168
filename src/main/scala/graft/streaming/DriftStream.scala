package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.text.TextAnalysis

/** Streaming distribution-drift monitor — x28's PSI gate run
  * per crawl batch, which is the shape the check actually deploys
  * in: a REFERENCE histogram is computed once from the curated
  * corpus (a static 40-cell table, cached), and every arriving
  * micro-batch's feature histogram is compared against it, emitting
  * one PSI row per feature per batch through the exactly-once
  * [[IdempotentSink]] (batch-id-keyed — a replayed batch overwrites
  * its own previous verdict).
  *
  * State: NONE in the stream — the reference is static, the
  * candidate histogram is one hash agg of the micro-batch, and the
  * PSI arithmetic is the shared quantized-integer formula
  * ([[TextAnalysis.psiFromCounts]]), so the streamed verdict for a
  * batch is bit-identical to running batch x28 on the same rows
  * (StreamingSpec pins this). At ingest scale the per-batch cost is
  * one scan of the batch + a 40-row join — the monitor adds nothing
  * to the shuffle budget. */
object DriftStream {

  /** Reference histogram: (feature, bin, nr) from the ref half of
    * the corpus (the same `source < src10` split x28 uses). */
  private def refCounts(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.driftBinned(
      Tables.documents(s, dir)
        .filter(substring(col("source"), 4, 10).cast("int") < 10))
      .groupBy("feature", "bin")
      .agg(count(lit(1)).as("nr"))

  /** Start the monitor: candidate stream = the non-reference half
    * (the "new crawl"), verdicts land under `outDir` keyed by batch
    * id. */
  def start(s: SparkSession, dir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val ref = refCounts(s, dir).cache()
    val cand = Tables.documentsStream(s, dir)
      .filter(substring(col("source"), 4, 10).cast("int") >= 10)
    cand.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val candCounts = TextAnalysis.driftBinned(batch.toDF())
          .groupBy("feature", "bin")
          .agg(count(lit(1)).as("nc"))
        val counts = ref.join(candCounts, Seq("feature", "bin"),
            "full")
          .na.fill(0L, Seq("nr", "nc"))
        IdempotentSink.writeBatch(
          TextAnalysis.psiFromCounts(s, counts), id, outDir)
      }
      .start()
  }
}
