package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dedup.Dedup
import graft.ml.{KnnImpute, MiceImpute, Models}
import graft.multimodal.Multimodal
import graft.ops.{Aggregates, BloomJoin, Expectations, Joins,
  KmvSketch, Ordering, PageRank, Relational, Reshape, SkewJoin,
  Sketches, SqlSurface, TemporalJoins}
import graft.plans.TopK
import graft.sim.{HybridRetrieval, MmrRerank, Similarity}
import graft.sources.{BloomSkip, Bucketing, CsvIO, EncodingSniff,
  MergeInto, PartitionPruning, PlotSink, SnapshotStore, ZOrder}
import graft.pipeline.CurationPipeline
import graft.streaming.EventStreams
import graft.text.{BpeMerges, Chunking, QualityClassifier,
  SequencePacking, TextAnalysis, UnigramTokenizer}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory of SURVEY.md §2, one named
  * query per op, each over `/root/testdata/sf*` parquet; `oracleSql`
  * holds the equivalent DuckDB SQL the driver hash-compares against.
  * Non-SQL-expressible ops (spark.ml layer, LSH internals, streaming)
  * appear in `queries` only (rows-only check) and are ScalaTest'd.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * G1, the TPC-H-Q1-shaped groupBy-sum (SURVEY §7 phase 1). */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.g1AggSum(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first calls [[GraftExtensions.install]] on the session it is
    * given, so it also runs on a session built without graft's
    * extensions. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ Aggregates.queries ++ Joins.queries ++
      TemporalJoins.queries ++
      Reshape.queries ++ Ordering.queries ++ TextAnalysis.queries ++
      Dedup.queries ++ Similarity.queries ++ EventStreams.queries ++
      Models.queries ++ Multimodal.queries ++ SqlSurface.queries ++
      TopK.queries ++ ZOrder.queries ++ BloomJoin.queries ++
      SkewJoin.queries ++ SequencePacking.queries ++ MergeInto.queries ++
      Bucketing.queries ++ SnapshotStore.queries ++ Sketches.queries ++
      Expectations.queries ++ PartitionPruning.queries ++
      BpeMerges.queries ++ BloomSkip.queries ++
      QualityClassifier.queries ++ PageRank.queries ++
      CurationPipeline.queries ++ Chunking.queries ++
      HybridRetrieval.queries ++ KnnImpute.queries ++ MmrRerank.queries ++
      MiceImpute.queries ++ CsvIO.queries ++ PlotSink.queries ++
      EncodingSniff.queries ++ UnigramTokenizer.queries ++
      KmvSketch.queries).map { case (name, f) =>
        name -> { (s: SparkSession, dir: String) =>
          GraftExtensions.install(s)
          f(s, dir)
        }
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Aggregates.oracle ++ Joins.oracle ++
      TemporalJoins.oracle ++
      Reshape.oracle ++ Ordering.oracle ++ TextAnalysis.oracle ++
      Dedup.oracle ++ Similarity.oracle ++ EventStreams.oracle ++
      Models.oracle ++ Multimodal.oracle ++ SqlSurface.oracle ++
      TopK.oracle ++ ZOrder.oracle ++ BloomJoin.oracle ++
      SkewJoin.oracle ++ SequencePacking.oracle ++ MergeInto.oracle ++
      Bucketing.oracle ++ SnapshotStore.oracle ++ Sketches.oracle ++
      Expectations.oracle ++ PartitionPruning.oracle ++
      BpeMerges.oracle ++ BloomSkip.oracle ++
      QualityClassifier.oracle ++ PageRank.oracle ++
      CurationPipeline.oracle ++ Chunking.oracle ++
      HybridRetrieval.oracle ++ KnnImpute.oracle ++ MmrRerank.oracle ++
      MiceImpute.oracle ++ CsvIO.oracle ++ PlotSink.oracle ++
      EncodingSniff.oracle ++ UnigramTokenizer.oracle ++
      KmvSketch.oracle

  /** The no-oracle→twin invariant, DECLARED so tooling can enforce it
    * mechanically instead of a human re-auditing it every round:
    * every rows-only key (in `queries` but not `oracleSql` — open-
    * domain estimators, ML fits, sketch/ANN serve paths) maps to the
    * oracle-gated closed-form twin that pins its machinery (planted
    * gate, bounded-domain exactness, or closed-form replica; a
    * ScalaTest bridge pins the production path to each twin).
    * `tools/check.py` fails when a rows-only key has no entry here,
    * an entry goes stale, or a twin's oracle check isn't green. */
  def twins: Map[String, String] = Map(
    "d3_dedup_minhash_lsh" -> "d3b_minhash_planted_gate",
    "d4_dedup_simhash" -> "d4b_simhash_planted_gate",
    "g10b_corr_test" -> "g10c_corr_test_gate",
    "g13_approx_stats" -> "g13b_approx_exact_gate",
    "g18_grouped_approx_stats" -> "g18b_grouped_approx_gate",
    "m1_pca" -> "m1b_pca_closed",
    "m2_linreg" -> "m2b_linreg_normal",
    "m4_lasso_cv" -> "m4b_lasso_path_closed",
    "m5_random_forest" -> "m5b_tree_exact_gate",
    "m6_stepwise_aic" -> "m6b_stepaic_lattice",
    "m10_repeated_cv" -> "m10b_cv_planted_gate",
    "n3_sim_ivf_topk" -> "n3b_ivf_planted_gate",
    "n4_sim_pq_topk" -> "n4b_pq_planted_gate",
    "n6_sim_ivfpq_topk" -> "n7_ivfpq_planted_gate",
    "x5_multimodal_features" -> "x5b_multimodal_decode",
    "x9_heavy_hitters" -> "x9b_heavy_hitters_gate",
    "x18_sketch_rollup" -> "x18b_hll_exact_gate",
    "x19_cms_rollup" -> "x19b_cms_gate",
    "x22_bpe_merges" -> "x22b_bpe_merges_gate",
    "x23_bpe_tokenize" -> "x23b_bpe_tokenize_gate",
    "x26_pipeline_tokens" -> "x26b_token_gate",
    "x27_kll_rollup" -> "x27b_kll_exact_gate",
    "x32_quality_classifier" -> "x32b_classifier_gate",
    "x51_unigram_fit" -> "x51b_unigram_fit_gate",
    "x52_audience_overlap" -> "x52b_kmv_exact_gate")
}
