package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.parking.ParkingPipeline

/** One timed operation: a call into a public entry point of the
  * library that ends in the op's full output.
  *
  * `run` returns the frame it wrote. The full-output self-check in
  * [[Main]] requires every op to end in exactly one [[Workloads.sink]]
  * write (or, for `submission`, its CSV directory). */
final case class Op(name: String, metric: String,
    run: (SparkSession, Inputs) => DataFrame)

/** Where one pass finds its inputs and puts its outputs. */
final case class Inputs(dir: String, scratch: String) {
  def train: String = s"$dir/train.csv"
  def test: String = s"$dir/test.csv"
  def ageGender: String = s"$dir/age_gender_info.csv"
  def submissionDir: String = s"$scratch/submission"
}

/** A check-phase output: `name` is dumped as parquet, `oracle` names
  * the `SparkEntry.oracleSql` entry it must hash-match, if any. */
final case class Dump(name: String, oracle: Option[String],
    run: (SparkSession, Inputs) => DataFrame)

/** `ops` run in every pass and make up the end-to-end numbers;
  * `traced` run only in traced passes, after the pass's own ops, for
  * their per-layer times. Each list has the check dumps of its ops. */
final case class Workload(name: String, ops: Seq[Op], dumps: Seq[Dump],
    traced: Seq[Op], tracedDumps: Seq[Dump])

object Workloads {

  /** The full-output action every timed op but `submission` ends in:
    * Spark's built-in no-op sink computes every column and does no IO,
    * unlike `count()`, which lets the optimizer prune the columns away. */
  def sink(df: DataFrame): DataFrame = {
    sinks.incrementAndGet()
    df.write.format("noop").mode("overwrite").save()
    df
  }

  /** Noop-sink writes started so far, in this JVM: the full-output
    * self-check counts the ones each op makes. */
  val sinks = new java.util.concurrent.atomic.AtomicLong

  private def queries(names: (String, String)*): Seq[Op] =
    names.map { case (n, m) =>
      Op(n, m, (s, in) => sink(SparkEntry.queries(n)(s, in.dir)))
    }

  /** Rows-only ops are checked through their declared oracle-gated twin;
    * every other op through its own oracle SQL. */
  private def gated(ops: Seq[Op]): Seq[Dump] = ops.map { op =>
    val q = SparkEntry.twins.getOrElse(op.name, op.name)
    require(SparkEntry.oracleSql.contains(q), s"$q has no oracle SQL")
    Dump(q, Some(q), (s, in) => SparkEntry.queries(q)(s, in.dir))
  }

  private def cleanedTrain(s: SparkSession, in: Inputs) =
    ParkingPipeline.clean(ParkingPipeline.loadTrain(s, in.train))

  private def features(s: SparkSession, in: Inputs) =
    ParkingPipeline.withDemographics(
      ParkingPipeline.featureTable(s, in.train),
      ParkingPipeline.loadAgeGender(s, in.ageGender))

  /** The parking pipeline end to end, and the one op that ends in its
    * real output: load, clean, feature tables for train and test, the
    * random-forest fit, prediction and the submission CSV. Its check
    * reads the CSV the last timed pass wrote. */
  val submission: Op = Op("submission", "sources.submission_csv_s",
    (s, in) => ParkingPipeline.submission(s, in.train, in.test,
      Some(in.submissionDir)))

  val parking: Workload = Workload("parking",
    ops = Seq(submission),
    dumps = Seq(Dump("features", None, features)),
    traced = Seq(
      Op("feature_table", "parking.feature_table_s",
        (s, in) => sink(features(s, in))),
      Op("knn_impute", "ml.knn_impute_s",
        (s, in) => sink(ParkingPipeline.knnImputeRentsOnComplex(s, in.train))),
      Op("fit_and_score", "ml.fit_and_score_s",
        (s, in) => sink(ParkingPipeline.fitAndScore(s, in.train))),
      Op("load_clean", "parking.load_clean_s",
        (s, in) => sink(cleanedTrain(s, in))),
      Op("per_complex", "parking.per_complex_s",
        (s, in) => sink(ParkingPipeline.perComplex(cleanedTrain(s, in)))),
      Op("area_band_pivot", "parking.area_band_pivot_s",
        (s, in) => sink(ParkingPipeline.areaBandPivot(cleanedTrain(s, in)))),
      Op("weighted_rent", "parking.weighted_rent_s",
        (s, in) => sink(ParkingPipeline.weightedRent(cleanedTrain(s, in))))),
    tracedDumps = Nil)

  // the curation DAG, then a star-schema sketch aggregate
  private val libraryOps = queries(
    "x25_pipeline_e2e" -> "pipeline.x25_s",
    "x26_pipeline_tokens" -> "pipeline.x26_s",
    "g13_approx_stats" -> "ops.g13_s")

  private val libraryTraced = queries(
    "d2b_dedup_ngram_capped" -> "dedup.d2b_s",
    "d6_dedup_clusters" -> "dedup.d6_s",
    "d10_substring_spans" -> "dedup.d10_s",
    "n6_sim_ivfpq_topk" -> "sim.n6_s",
    "x20_inverted_index" -> "text.x20_s",
    "g18_grouped_approx_stats" -> "ops.g18_s",
    "s9_merge_upsert" -> "sources.s9_s",
    "g10_corr" -> "ops.g10_s",
    "s13_partitioned_merge" -> "sources.s13_s",
    "g11_median" -> "ops.g11_s",
    "s20_compaction" -> "sources.s20_s",
    "g1_agg_sum" -> "ops.g1_s",
    "s21_delete_vectors" -> "sources.s21_s",
    "q1_sql_star_join" -> "ops.q1_s",
    "j9_skew_aqe_join" -> "ops.j9_s",
    "w2_window_funcs" -> "ops.w2_s",
    "s14_snapshot_skipping" -> "sources.s14_s",
    "s17_dpp_join" -> "sources.s17_s",
    "s29_wap" -> "sources.s29_s")

  val library: Workload = Workload("library",
    ops = libraryOps,
    // x26 is also dumped raw for the x25/x26 doc-count assertion; d6,
    // traced-only, is dumped in traced runs for the planted-cluster one
    dumps = gated(libraryOps) :+
      Dump("x26_pipeline_tokens", None,
        (s, in) => SparkEntry.queries("x26_pipeline_tokens")(s, in.dir)),
    traced = libraryTraced,
    tracedDumps = gated(libraryTraced))

  val all: Map[String, Workload] =
    Seq(parking, library).map(w => w.name -> w).toMap
}
