package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.ops.Expectations
import graft.ops.Expectations.Expectation
import graft.text.TextAnalysis

/** Streaming quality gate — x14's mixture filter and x15's
  * repetition profile as a continuous ingest job:
  *
  *   documents stream → key-derived mixture membership (a pure
  *   filter) → repetition/lexical-diversity metrics (codegen'd
  *   `distinct_ngram_count` kernels) → exactly-once
  *   [[IdempotentSink]].
  *
  * Every stage is STATELESS — per-row arithmetic and per-row
  * expressions with no aggregation — so the stream needs no
  * watermark, holds zero state, and the streamed output is
  * row-for-row the batch result regardless of how the corpus is
  * split into micro-batches (StreamingSpec pins one-batch parity;
  * statelessness makes the multi-batch case the same claim). This is
  * the ingest-side half of quality curation: score-and-sample at
  * arrival, corpus-level passes (x12's NLL needs global vocab
  * counts, x13's contamination needs the benchmark index) stay
  * batch-side or join a broadcast static index like
  * [[NearDupStream]] does.
  */
object QualityStream {

  def start(s: SparkSession, dir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val profiled = TextAnalysis.repetitionProfile(
      TextAnalysis.mixtureFilter(Tables.documentsStream(s, dir)))
    profiled.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        IdempotentSink.writeBatch(batch, id, outDir)
      }
      .start()
  }

  /** The s16 declarative constraint set at DOCUMENT grain — every
    * predicate row-level and stateless, so the identical gate runs in
    * batch and in a stream with no watermark or state. Caller must
    * have registered the graft kernels (`token_count`). */
  val docExpectations: Seq[Expectation] = Seq(
    Expectation("text_present",
      col("text").isNotNull && length(col("text")) > 0),
    Expectation("lang_known",
      col("lang").isin("en", "de", "es", "fr")),
    Expectation("min_tokens", expr("token_count(text)") >= 10))

  /** The CONTINUOUS form of the s16 expectation gate (the DLT-style
    * expect-or-quarantine pattern in the ingest job itself): each
    * micro-batch splits once into
    *
    *   clean → mixture filter → repetition profile → `outDir`
    *   violations (+ `failed_expectations` provenance) → `quarDir`
    *
    * both through the batch-id-keyed [[IdempotentSink]] — a replayed
    * micro-batch overwrites ITS OWN previous attempt in BOTH sinks,
    * so clean and quarantined rows land exactly once even though the
    * two writes aren't atomic together (a crash between them replays
    * the batch id and rewrites both deterministically).
    * `failed_expectations` is serialized to a comma-joined string —
    * declaration order, deterministic — so the quarantine parquet
    * needs no array codec and diffs cleanly. Scale: the split is two
    * scan-level filters of the micro-batch (Expectations' shape);
    * nothing shuffles. */
  def startGated(s: SparkSession, dir: String, outDir: String,
      quarDir: String, checkpointDir: String): StreamingQuery = {
    Tables.documentsStream(s, dir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val clean = Expectations.clean(batch, docExpectations)
        IdempotentSink.writeBatch(
          TextAnalysis.repetitionProfile(
            TextAnalysis.mixtureFilter(clean)), id, outDir)
        IdempotentSink.writeBatch(
          Expectations.quarantine(batch, docExpectations)
            .select(col("doc_id"), col("lang"),
              array_join(col("failed_expectations"), ",")
                .as("failed_expectations")), id, quarDir)
      }
      .start()
  }
}
