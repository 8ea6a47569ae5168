package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.dedup.Dedup

/** Streaming near-dup gate — the d3 MinHash+LSH pipeline as an ingest
  * filter: documents arriving on a stream are dropped when they are a
  * VERIFIED near-duplicate of a static reference corpus.
  *
  * Per micro-batch (inside `foreachBatch`, so plain batch semantics):
  * band-hash the batch with the exact d3 scheme, equi-join against
  * the corpus's precomputed band index (candidates only — never
  * batch × corpus), verify candidates with exact shingle Jaccard, and
  * anti-join the verified dup ids away. LSH false positives die at
  * verification; false negatives are the standard banding miss odds
  * (1-(1-s^4)^4 — ≥ 0.99 at s ≥ 0.9).
  *
  * The reference corpus is STATIC by design, mirroring
  * [[CurationStream]]'s stance: a gate that also grew state per
  * accepted document would hold unbounded streaming state with no
  * event-time to watermark it by. Batch-ingest pipelines stage it the
  * same way — gate new data against the published corpus snapshot at
  * ingest, fold accepted data into the next snapshot in batch. The
  * corpus band index is computed once at query start and reused every
  * batch (at scale: persist it bucketed by band_hash so each batch's
  * candidate join is shuffle-free on the corpus side).
  */
object NearDupStream {

  /** Batch form of the gate (the streaming query applies exactly this
    * per micro-batch): rows of `newDocs` whose exact Jaccard against
    * some LSH band candidate in `corpus` reaches `threshold` are
    * dropped. Derives the corpus band index and shingle sets inline —
    * one-shot batch use; [[start]] precomputes and persists them so
    * the per-micro-batch cost is the batch's own side only. */
  def nearDupGate(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.4): DataFrame =
    nearDupGate(newDocs, Dedup.bandedSignatures(corpus),
      corpus.select(col("doc_id").as("old_id"),
        Dedup.shingles.as("sh_b")), threshold)

  /** Core gate against a PRECOMPUTED corpus side: `corpusBands` =
    * `Dedup.bandedSignatures(corpus)`, `corpusShingles` =
    * `(old_id, sh_b)`. Callers that run many batches (the streaming
    * query) persist both once so the static corpus is not re-read,
    * re-shingled, and re-minhashed every micro-batch. */
  def nearDupGate(newDocs: DataFrame, corpusBands: DataFrame,
      corpusShingles: DataFrame, threshold: Double): DataFrame = {
    val newBands = Dedup.bandedSignatures(newDocs)
    val candidates = newBands.as("a").join(corpusBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    val dupIds = candidates
      .join(newDocs.select(col("doc_id").as("new_id"),
        Dedup.shingles.as("sh_a")), "new_id")
      .join(corpusShingles, "old_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id").as("doc_id")).distinct()
    newDocs.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Semantic (embedding) ingest gate — the x49 decontamination scan
    * as a streaming filter: arriving (vec_id, embedding) rows are
    * DROPPED when their EXACT cosine against any benchmark embedding
    * reaches `threshold`. Same static-reference stance as the LSH
    * gate above, and the same plan argument as batch x49: the
    * benchmark suite is tiny by definition, so each micro-batch pays
    * one broadcast nested-loop FloatCosine scan — linear in the
    * batch, zero batch-side shuffle, and exact at the threshold (an
    * ANN route would trade recall exactly where a leak gate must not
    * miss). */
  def semanticGate(newRows: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    val leaked = newRows
      .select(col("vec_id"), col("embedding").as("c_embedding"))
      .crossJoin(broadcast(
        benchmark.select(col("embedding").as("b_embedding"))))
      .filter(graft.functions.GraftFunctions
        .floatCosine("c_embedding", "b_embedding") >= threshold)
      .select("vec_id").distinct()
    newRows.join(leaked, Seq("vec_id"), "left_anti")
  }

  /** Stream `streamPath`'s arriving parquet embeddings through
    * [[semanticGate]] against the benchmark at `benchmarkPath`;
    * accepted rows land exactly-once via [[IdempotentSink]]. */
  def startSemantic(s: SparkSession, benchmarkPath: String,
      streamPath: String, outDir: String, checkpointDir: String,
      threshold: Double = 0.9): StreamingQuery = {
    val bench = s.read.parquet(benchmarkPath)
      .select("vec_id", "embedding").persist()
    val stream = s.readStream.schema(bench.schema).parquet(streamPath)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        IdempotentSink.writeBatch(
          semanticGate(batch, bench, threshold), id, outDir)
      }
      .start()
  }

  /** Gate `streamPath`'s arriving parquet documents against the
    * corpus at `corpusPath`; accepted docs land exactly-once via
    * [[IdempotentSink]]. */
  def start(s: SparkSession, corpusPath: String, streamPath: String,
      outDir: String, checkpointDir: String,
      threshold: Double = 0.4): StreamingQuery = {
    val corpus = s.read.parquet(corpusPath).select("doc_id", "text")
    // the docstring's "computed once at query start" contract, made
    // real: band index + shingle sets persist across micro-batches
    // (filled on first use, reused after) instead of re-deriving the
    // whole static corpus per batch
    val corpusBands = Dedup.bandedSignatures(corpus).persist()
    val corpusShingles = corpus.select(col("doc_id").as("old_id"),
      Dedup.shingles.as("sh_b")).persist()
    val stream = s.readStream.schema(corpus.schema).parquet(streamPath)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        IdempotentSink.writeBatch(
          nearDupGate(batch, corpusBands, corpusShingles, threshold),
          id, outDir)
      }
      .start()
  }
}
