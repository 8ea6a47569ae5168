package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.text.TextAnalysis

/** Streaming corpus curation — the x6 pipeline as a continuous job:
  *
  *   documents stream → stateless per-row gates (length / quality /
  *   language; codegen'd kernels, no state, no watermark needed) →
  *   per-micro-batch fingerprint dedup inside `foreachBatch` → the
  *   exactly-once [[IdempotentSink]].
  *
  * Dedup scope is PER BATCH by design: a global streaming
  * `groupBy(fingerprint)` would hold one state row per distinct
  * document forever (unbounded state, no event-time to watermark it
  * by). Per-batch dedup bounds state at zero while still collapsing
  * intra-batch duplicates; cross-batch duplicates are a downstream
  * compaction's job (or `dropDuplicatesWithinWatermark` when the
  * source carries event time — see [[EventStreams.dedupedStream]]).
  * This mirrors how large ingestion pipelines actually stage dedup:
  * cheap local collapse at ingest, global collapse in batch.
  */
object CurationStream {

  def start(s: SparkSession, dir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val gated = TextAnalysis.curationGates(Tables.documentsStream(s, dir))
    gated.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        IdempotentSink.writeBatch(
          TextAnalysis.fingerprintDedup(batch), id, outDir)
      }
      .start()
  }
}
