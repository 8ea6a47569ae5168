package graft.parking

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.Rounds

/** The reference pipeline itself (SURVEY §3 entry points A/B/C),
  * re-expressed end-to-end on the actual parking-competition CSVs at
  * /root/reference (read-only). This is the fidelity layer: every
  * stage cites the R lines it reproduces; ParkingSpec pins the
  * goldens (423 complexes, sentinel counts, the missing 090 band).
  *
  * Deliberate divergences from the reference (SURVEY §5: "replicate
  * capabilities, not bugs"): fixed pivot band lists (the reference's
  * data-dependent pivot silently drops empty bands); apartment model
  * fits apartment data (the reference fits shop data via the
  * `apt_df <- method1_shop_df` copy-paste at R:1036); the stratified
  * split is key-derived, not RNG-seeded (deterministic cross-engine).
  */
object ParkingPipeline {

  /** Explicit schema (FIXTURES.md §A): rents stay STRING at read —
    * they carry ""/"-" sentinels (R:114–129) — and are cleaned by the
    * dirty-cast stage, never by inference. */
  private val trainSchema = StructType(Seq(
    StructField("단지코드", StringType),
    StructField("총세대수", IntegerType),
    StructField("임대건물구분", StringType),
    StructField("지역", StringType),
    StructField("공급유형", StringType),
    StructField("전용면적", DoubleType),
    StructField("전용면적별세대수", IntegerType),
    StructField("공가수", DoubleType),
    StructField("자격유형", StringType),
    StructField("임대보증금", StringType),
    StructField("임대료", StringType),
    StructField("도보 10분거리 내 지하철역 수(환승노선 수 반영)", DoubleType),
    StructField("도보 10분거리 내 버스정류장 수", DoubleType),
    StructField("단지내주차면수", DoubleType),
    StructField("등록차량수", DoubleType)))

  private def testSchema =
    StructType(trainSchema.fields.dropRight(1))

  /** S1 — CSV scan with header + UTF-8 (R:84–97). */
  def loadTrain(s: SparkSession, path: String): DataFrame =
    s.read.option("header", true).option("encoding", "UTF-8")
      .schema(trainSchema).csv(path)

  def loadTest(s: SparkSession, path: String): DataFrame =
    s.read.option("header", true).option("encoding", "UTF-8")
      .schema(testSchema).csv(path)

  /** Train and test CSVs of at most this many bytes together make
    * [[submission]] run interpreted ([[interpreted]]); larger inputs
    * run compiled, as every other entry point does.
    *
    * Why: Spark keys its generated-class cache by (the thread's context
    * classloader, source), and every new SparkContext gives its
    * executor a new classloader, so the first `submission` in a
    * SparkContext compiles every projection, ordering and whole-stage
    * iterator again: about 80 Janino compiles, about 1.0 s of a 3 s
    * run on the reference-size CSVs, to run each class over a few
    * hundred rows. Once the cache is warm, interpreting is still the
    * faster at that size, by less. Interpreted rows cost more each, so
    * the gain shrinks as the input grows and turns into a loss.
    *
    * The value is measured, not derived from another setting.
    * `submission` on seeded inputs of 0.4 to 62 MB (train.csv plus
    * test.csv), `local[2]` on a 4-core host, medians of three:
    * interpreted took 0.54, 0.85, 0.84, 1.00 and 1.20 times the
    * compiled time at 0.4, 2.5, 6, 12 and 62 MB with a fresh
    * SparkContext per call (the cache cold), and 0.78, 0.86, 1.04,
    * 1.16 and 1.49 times with several calls in one SparkContext (the
    * cache warm). 4 MiB lies below both break-evens, about 5 MB warm
    * and 12 MB cold. */
  private[graft] val InterpretedInputBytes: Long = 4L << 20

  /** Whether the files at `paths` (a directory counts every file under
    * it) hold at most `limit` bytes together. Lists on the driver and
    * starts no job; the listing stops as soon as the total exceeds
    * `limit`. A path that cannot be listed (missing, a glob) answers
    * false, so the read that follows fails or resolves as it would
    * have. */
  private[graft] def totalAtMost(s: SparkSession, paths: Seq[String],
      limit: Long): Boolean = Try {
    val conf = s.sessionState.newHadoopConf()
    var total = 0L
    paths.forall { path =>
      val p = new org.apache.hadoop.fs.Path(path)
      val files = p.getFileSystem(conf).listFiles(p, true)
      while (total <= limit && files.hasNext) total += files.next().getLen
      total <= limit
    }
  }.getOrElse(false)

  /** A copy of `s` that runs every query interpreted: a
    * `cloneSession` (same SparkContext, catalog and cache; a copy of
    * every SQL setting, custom keys such as [[Rounds.CheckpointDirKey]]
    * included, temp view, registered function and
    * `QueryExecutionListener` of `s`) with
    * `spark.sql.codegen.factoryMode=NO_CODEGEN`, which makes every
    * projection, predicate and ordering interpreted and, in Spark 4.1,
    * also turns whole-stage codegen off. `s` itself is not changed.
    *
    * `factoryMode` is internal to Spark ("NOT supposed to be set by
    * end users"); Spark's own SQL suites run their queries under
    * `NO_CODEGEN`. ParkingFixtureSpec pins the plan shape on both
    * paths, so a Spark upgrade that ignores the setting fails there. */
  private[graft] def interpreted(s: SparkSession): SparkSession = {
    val child = org.apache.spark.sql.GraftSqlShims.cloneSession(s)
    child.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    child
  }

  /** C1 + C9 — sentinel→NULL rent cast (R:122–129) and long→short
    * transit renames (R:133–139). */
  def clean(df: DataFrame): DataFrame = {
    def dirty(c: String) =
      when(col(c).isin("", "-"), lit(null)).otherwise(col(c))
        .cast("double").as(c)
    df.withColumn("임대보증금", dirty("임대보증금"))
      .withColumn("임대료", dirty("임대료"))
      .withColumnRenamed("도보 10분거리 내 지하철역 수(환승노선 수 반영)",
        "지하철역수")
      .withColumnRenamed("도보 10분거리 내 버스정류장 수", "버스정류장수")
  }

  /** G4 — data-driven discovery of complex-level columns (R:174–191):
    * a column is complex-level iff the sum over complexes of its
    * per-complex distinct-non-NA count is ≤ #complexes.
    *
    * Driver-side metadata from ONE shuffle and one eager action. The
    * per-group distinct count is `size(collect_set(c))`: like
    * `countDistinct`, it counts distinct non-null values, 0 for an
    * all-null group. The key count and the per-column sums are folded
    * per post-shuffle partition and merged on the driver, one small
    * array per partition; a null key counts as one complex, as
    * `distinct().count()` counted it. Under adaptive execution that is
    * two jobs (the map side, then the fold), where a `countDistinct`
    * per column (an `Expand` over three shuffles) plus a separate
    * `distinct().count()` took seven; ParkingFixtureSpec keeps that
    * form and pins that both agree. Whether `df` is cached is the
    * caller's choice ([[withFeatureTable]] caches it while it builds
    * the table). */
  def complexLevelColumns(df: DataFrame, key: String): Seq[String] = {
    val others = df.columns.filterNot(_ == key).toSeq
    val perGroup = df.groupBy(key)
      .agg(size(collect_set(col(others.head))),
        others.tail.map(c => size(collect_set(col(c)))): _*)
    // (#keys, per-column sums): folded within each post-shuffle
    // partition; the driver merges one array per partition
    val totals = perGroup.rdd
      .map(r => Array.tabulate(others.size + 1)(i =>
        if (i == 0) 1L else r.getInt(i).toLong))
      .fold(new Array[Long](others.size + 1))((a, b) =>
        Array.tabulate(a.length)(i => a(i) + b(i)))
    key +: others.zipWithIndex.collect {
      case (c, i) if totals(i + 1) <= totals(0) => c
    }
  }

  /** One `groupBy(단지코드)` of `df` over `aggs`. Each per-complex
    * table below is this over its own aggregate expressions, each
    * defined once, and [[complexAggregate]] is it over all of them. */
  private def perKey(df: DataFrame, aggs: Seq[Column]): DataFrame =
    if (aggs.isEmpty) df.select("단지코드").distinct()
    else df.groupBy("단지코드").agg(aggs.head, aggs.tail: _*)

  /** The complex-level columns other than the key, one value per
    * complex: `first(c)` is what `dropDuplicates` plans, so the value
    * is the one of the first row of the complex. */
  private def firstOf(cols: Seq[String]): Seq[Column] =
    cols.map(c => first(col(c)).as(c))

  /** P1 + G5 — per-complex dimension table (R:194–196): the
    * complex-level columns, one row per complex. */
  def perComplex(df: DataFrame): DataFrame =
    perKey(df, firstOf(complexLevelColumns(df, "단지코드").tail))

  /** C3 + G1 — total residential area per complex (R:264–272):
    * Σ 전용면적 × 전용면적별세대수. */
  private val totalAreaAgg: Column =
    sum(col("전용면적") * col("전용면적별세대수")).as("총면적")

  def totalArea(df: DataFrame): DataFrame = perKey(df, Seq(totalAreaAgg))

  /** Fixed band list 10..100 — pinned, unlike the reference's
    * data-dependent pivot (R:290–312), so train and test always share
    * a schema; the empty 090 band becomes an all-zero column. */
  val bands: Seq[Int] = (1 to 10).map(_ * 10)

  /** C4 + V1 — one household count per area band (R:290–315): R's
    * `round(전용면적, -1)` is half-to-EVEN → `bround`; clamp [10,100]
    * (R:292–296 `pmax/pmin`); a band's count is the conditional sum
    * of 전용면적별세대수 over its rows, 0 when it has none (the
    * zero-filled pivot), under `str_pad`-style names (R:306). A row
    * with a NULL 전용면적 has no band and counts in none. */
  private val bandAggs: Seq[Column] = {
    val band = least(greatest(bround(col("전용면적"), -1), lit(10.0)),
      lit(100.0)).cast("int")
    bands.map(b => coalesce(sum(when(band === b, col("전용면적별세대수"))),
      lit(0L)).as(f"전용면적_$b%03d"))
  }

  /** The area-band histogram: one aggregate of conditional sums, not
    * a `pivot` (which plans a second aggregate over (complex, band)). */
  def areaBandPivot(df: DataFrame): DataFrame = perKey(df, bandAggs)

  /** V2 variant — the same histogram restricted to one building type
    * (R:856–877 `split()` + per-group pivot ≡ filtered histogram). */
  def areaBandPivotFor(df: DataFrame, buildingType: String): DataFrame =
    areaBandPivot(df.filter(col("임대건물구분") === buildingType))

  /** G9 — per-complex household-weighted mean rents, all-NULL groups
    * kept NULL (R:922–940: the `group_split`+`map_df` loop as ONE
    * hash aggregate). */
  private val rentAggs: Seq[Column] = Seq("임대보증금", "임대료").map { c =>
    (sum(when(col(c).isNotNull, col(c) * col("전용면적별세대수")))
      / sum(when(col(c).isNotNull, col("전용면적별세대수")))).as(c)
  }

  /** The weighted rents before imputation: what [[weightedRent]]
    * imputes by median; [[knnImputeRentsOnComplex]] takes the same
    * rents from [[complexAggregate]]. */
  def weightedRentRaw(df: DataFrame): DataFrame = perKey(df, rentAggs)

  /** C6 — exact-median imputation (R:941–943, the ACTIVE imputation
    * path of the reference) of the weighted rents of a per-complex
    * frame: a NULL rent takes the median over every row of `perKey`,
    * the NULL key's included. Lazy: the one-row `percentile`
    * aggregate is broadcast-cross-joined and coalesced from, so the
    * medians are computed inside whichever job materializes the
    * table, not by a driver `head()` at plan time. */
  private def medianImputed(perKey: DataFrame): DataFrame = {
    val meds = perKey.agg(
      expr("percentile(`임대보증금`, 0.5)").as("med_deposit"),
      expr("percentile(`임대료`, 0.5)").as("med_rent"))
    perKey.crossJoin(broadcast(meds)).select(perKey.columns.toSeq.map {
      case c @ "임대보증금" => coalesce(col(c), col("med_deposit")).as(c)
      case c @ "임대료" => coalesce(col(c), col("med_rent")).as(c)
      case c => col(c)
    }: _*)
  }

  /** [[weightedRentRaw]] with [[medianImputed]] rents. */
  def weightedRent(df: DataFrame): DataFrame =
    medianImputed(weightedRentRaw(df))

  /** Every per-complex column in ONE `groupBy(단지코드)` of `cleaned`:
    * the complex-level columns of [[perComplex]], then 총면적, the ten
    * bands and the two weighted rents, in that order, each from the
    * definition its own table uses. The NULL key is one more row
    * here; callers that join on the key drop it. */
  private def complexAggregate(cleaned: DataFrame): DataFrame =
    perKey(cleaned,
      firstOf(complexLevelColumns(cleaned, "단지코드").tail) ++
        (totalAreaAgg +: bandAggs) ++ rentAggs)

  /** The COMMENTED-OUT reference imputation (R:820–829
    * `knnImputation`, packages loaded at R:56–60 but never called),
    * made runnable: complexes whose weighted 임대보증금 is NULL (no
    * priced unit at all) take the mean over their 5 nearest
    * fully-priced complexes in (총세대수, 공가수, 단지내주차면수,
    * 총면적) space — the always-present per-complex numerics —
    * through the shared [[graft.ml.KnnImpute]] kernel (broadcast
    * scored join + TopKPerKey + keyed mean). The base frame is the
    * shared [[complexAggregate]] without the NULL key (the optimizer
    * prunes the bands away); a selected column that is not
    * complex-level fails to resolve. Returns (단지코드, imputed
    * 임대보증금); ParkingSpec pins the full output against a
    * driver-side brute-force recomputation. */
  def knnImputeRentsOnComplex(s: SparkSession, path: String): DataFrame = {
    val base = complexAggregate(clean(loadTrain(s, path)))
      .filter(col("단지코드").isNotNull)
      .select(col("단지코드"), col("총세대수").cast("double").as("총세대수"),
        col("공가수"), col("단지내주차면수"), col("총면적"),
        col("임대보증금"))
    graft.ml.KnnImpute.imputeOf(base, "단지코드",
      Seq("총세대수", "공가수", "단지내주차면수", "총면적"),
      "임대보증금", k = 5)
      .select(col("q_key").as("단지코드"),
        col("imputed").as("임대보증금_knn"))
  }

  /** Entry point A+B (SURVEY §3.1–3.2): the full per-complex feature
    * table — dedup → enrich (area, bands, rents) → impute transit
    * NAs (C5, R:350–358) → derived ratios (C3, R:421–424).
    * `featureTableOf` takes an already-cleaned frame so the SAME
    * enrichment runs on train.csv and (label-less) test.csv — the
    * submission path needs both under one schema.
    *
    * Apart from the discovery job of [[complexLevelColumns]] it is
    * one lazy plan: the one aggregate of [[complexAggregate]] without
    * its NULL-key row (the inner joins of the per-table form dropped
    * it too), and one broadcast cross join with the one-row median
    * aggregate. The medians are taken before the NULL-key row is
    * dropped, as [[weightedRent]] takes them. ParkingFixtureSpec keeps
    * the per-table join form and pins that both give the same rows in
    * the same order under the same schema.
    *
    * Nothing here caches or materializes: the returned plan reads
    * `cleaned` twice (the table's aggregate and the medians') each
    * time it runs. Entry points that run several actions on the table
    * build it once through [[withFeatureTable]], which caches
    * `cleaned` only while the table is built and releases the table
    * before it returns. */
  def featureTableOf(cleaned: DataFrame): DataFrame =
    medianImputed(complexAggregate(cleaned))
      .filter(col("단지코드").isNotNull)
      .na.fill(0.0, Seq("지하철역수", "버스정류장수"))
      .withColumn("세대당주차면수", col("단지내주차면수") / col("총세대수"))
      .withColumn("대중교통수", col("지하철역수") + col("버스정류장수"))

  /** The lazy feature table of `cleaned` and the same table
    * materialized by [[graft.ops.Rounds.materialize]]: one row per
    * complex, distributed, nothing collected. The caller releases the
    * table.
    *
    * `cleaned` is cached for the discovery job and the table's own
    * job, and unpersisted once the table exists (or the build failed),
    * unless the caller had cached it (a cache is shared by every frame
    * with the same plan, as ParkingSpec's cached `train` is).
    *
    * Why not `persist()`: the random forest is seeded, but its
    * bagging depends on the partitions and row order of its input. A
    * cached plan keeps the aggregate's shuffle partitions, while the
    * un-cached plan is coalesced to fewer by adaptive execution, so a
    * persisted table changes the predictions. An eager
    * `localCheckpoint` runs the plan as its own adaptive query and
    * keeps the partitioning the un-cached plan has. */
  private def materializedFeatureTable(
      cleaned: DataFrame): (DataFrame, DataFrame) = {
    val owned = cleaned.storageLevel == StorageLevel.NONE
    if (owned) cleaned.cache()
    try {
      val plan = featureTableOf(cleaned)
      (plan, Rounds.materialize(plan))
    } finally if (owned) cleaned.unpersist()
  }

  /** Builds the feature table of `cleaned` once, on the calling
    * thread, and runs `body` on the lazy plan and the materialized
    * table ([[materializedFeatureTable]]). The table is released when
    * `body` returns or throws, so `body` must not return a frame that
    * reads it: return one built on the plan instead. */
  private[parking] def withFeatureTable[T](cleaned: DataFrame)(
      body: (DataFrame, DataFrame) => T): T = {
    val (plan, table) = materializedFeatureTable(cleaned)
    try body(plan, table)
    finally Rounds.release(table)
  }

  /** Name of the thread [[withFeatureTableBeside]] builds a table on. */
  private[graft] val TableThreadName = "parking-feature-table"

  /** [[withFeatureTable]] with the table built beside `body`: a thread
    * that this call creates evaluates `cleaned` and builds its table
    * while `body` runs on the calling thread. `body` gets a function
    * that waits for the build and returns (plan, table), or throws
    * what the build threw.
    *
    * The thread is created by the calling thread, so it inherits
    * Spark's local properties: its jobs run under the caller's job
    * group. The call joins the thread before it returns or throws,
    * also when the build or `body` failed, and then releases the
    * table if it was built: no thread and no table outlives the call.
    * The thread is a daemon all the same, so that it could not hold
    * the JVM open. */
  private def withFeatureTableBeside[T](cleaned: => DataFrame)(
      body: (() => (DataFrame, DataFrame)) => T): T = {
    var built: Try[(DataFrame, DataFrame)] = null
    val thread = new Thread(() =>
      built = try Success(materializedFeatureTable(cleaned))
        catch { case e: Throwable => Failure(e) },
      TableThreadName)
    thread.setDaemon(true)
    thread.start()
    try body { () => thread.join(); built.get }
    finally {
      thread.join()
      built.foreach { case (_, table) => Rounds.release(table) }
    }
  }

  def featureTable(s: SparkSession, path: String): DataFrame =
    featureTableOf(clean(loadTrain(s, path)))

  /** Demographic enrichment (R:1040–1044, the commented-out
    * `merge(x=apt_df, y=age_gender, by="지역")`): age_gender_info.csv
    * is a 16-region × 22-share dimension — the canonical tiny
    * broadcast join; the fact side never shuffles. */
  def loadAgeGender(s: SparkSession, path: String): DataFrame =
    s.read.option("header", true).option("encoding", "UTF-8")
      .option("inferSchema", true).csv(path)

  def withDemographics(features: DataFrame, ageGender: DataFrame): DataFrame =
    features.join(broadcast(ageGender), Seq("지역"), "left")

  /** Entry point C (SURVEY §3.3, R:1176–1315): fit OLS and a seeded
    * random forest on the per-complex feature table predicting
    * 등록차량수, score RMSE / R² / MAPE on the held-out 20%.
    * (The reference's own numbers describe a buggy run — its
    * "apartment" model was fit on shop data, R:1036 — so these are
    * capability parity, not bit targets; BASELINE.md caveats.)
    *
    * The table is built once ([[withFeatureTable]]) and released
    * before return; the returned frame is a local relation of the six
    * scores, so it does not read the table. */
  def fitAndScore(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
    import org.apache.spark.ml.regression.{LinearRegression, RandomForestRegressor}
    withFeatureTable(clean(loadTrain(s, path))) { (_, table) =>
      val (train, test) =
        stratifiedSplit(table.withColumnRenamed("등록차량수", "label"))
      val prep: Array[org.apache.spark.ml.PipelineStage] = Array(
        new StringIndexer().setInputCol("지역").setOutputCol("region_idx")
          .setStringOrderType("alphabetAsc").setHandleInvalid("keep"),
        new OneHotEncoder().setInputCol("region_idx")
          .setOutputCol("region_oh").setDropLast(true),
        new VectorAssembler().setInputCols(numCols :+ "region_oh")
          .setOutputCol("features"))
      val lm = new Pipeline().setStages(prep :+
        new LinearRegression().setLabelCol("label")
          .setFeaturesCol("features").setSolver("normal")).fit(train)
      val rf = new Pipeline().setStages(prep :+
        new RandomForestRegressor().setLabelCol("label")
          .setFeaturesCol("features").setNumTrees(50).setSeed(4)).fit(train)
      def pred(m: org.apache.spark.ml.PipelineModel, name: String) =
        m.transform(test).select(lit(name).as("model"), col("label"),
          col("prediction"))
      val scores = regressionScores(pred(lm, "lm").union(pred(rf, "rf")))
        .collect()
      import s.implicits._
      scores.toSeq.sortBy(_.getString(0)).flatMap { r =>
        Seq("rmse", "r2", "mape").map(m =>
          (r.getString(0), m, r.getAs[Double](m)))
      }.toDF("model", "metric", "value")
    }
  }

  /** RMSE, R² and MAPE per `model` of a (model, label, prediction)
    * frame, in one aggregate. RMSE and R² follow
    * `RegressionEvaluator` (R² = 1 − SSE / ((n − 1)·var_samp(label)));
    * MAPE averages |(label − prediction) / label| over the rows with
    * a non-zero label. ParkingFixtureSpec pins these against the
    * evaluator. */
  private[graft] def regressionScores(pred: DataFrame): DataFrame = {
    val err = col("label") - col("prediction")
    val sse = sum(err * err)
    pred.groupBy("model").agg(
      sqrt(sse / count(lit(1))).as("rmse"),
      (lit(1.0) - sse / ((count(lit(1)) - 1) * var_samp(col("label"))))
        .as("r2"),
      avg(when(col("label") =!= 0.0, abs(err / col("label")))).as("mape"))
  }

  /** Numeric feature list shared by the model entry points. */
  private[parking] val numCols: Array[String] =
    Array("총세대수", "공가수", "지하철역수", "버스정류장수",
      "단지내주차면수", "총면적", "임대보증금", "임대료",
      "세대당주차면수", "대중교통수") ++
      bands.map(b => f"전용면적_$b%03d")

  /** The 10 base (non-band) features — the stepwise/PCA surface the
    * reference explores (R:537–570, R:632–634 work on the compact
    * per-complex frame, not the band histogram). */
  private[parking] val baseCols: Array[String] = numCols.take(10)

  /** M1 on the parking table (R:537–570: `prcomp(scale=TRUE)` on the
    * per-complex frame). */
  def pcaOnComplex(s: SparkSession, path: String): DataFrame =
    graft.ml.Models.pcaOf(s, featureTable(s, path), baseCols)

  /** M4 on the parking table (R:1247–1254: `cv.glmnet(alpha=1)`
    * over the apartment frame). */
  def lassoCvOnComplex(s: SparkSession, path: String): DataFrame =
    graft.ml.Models.lassoCvOf(s,
      featureTable(s, path).withColumnRenamed("등록차량수", "label"),
      numCols)

  /** M10 on the parking table — the REPEATED 5-fold control the
    * reference declares at R:1085–1088 (`trainControl(method=
    * "repeatedcv", number=5)`), run on the frame it was declared
    * for. */
  def repeatedCvOnComplex(s: SparkSession, path: String): DataFrame =
    graft.ml.Models.repeatedCvOf(s,
      featureTable(s, path).withColumnRenamed("등록차량수", "label"),
      numCols, repeats = 3)

  /** M6 on the parking table (R:632–634: `MASS::stepAIC` backward
    * elimination over the per-complex regression). */
  def stepAicOnComplex(s: SparkSession, path: String): DataFrame =
    graft.ml.Models.stepwiseAicOf(s,
      featureTable(s, path).withColumnRenamed("등록차량수", "label"),
      baseCols)

  /** The competition artifact (R:1005–1016 / sample_submission.csv
    * shape): fit on the FULL training table, build the same feature
    * table from label-less test.csv, predict per complex, and write
    * a (code, num) CSV via the S3 sink.
    *
    * Each feature table is built once: the fit and the CSV write read
    * the materialized tables. The test table is built on a thread of
    * its own ([[withFeatureTableBeside]]), started before the train
    * table, while the calling thread builds the train table and fits
    * the forest; the call waits for it before the CSV write. Both
    * threads' jobs run under the caller's job group. Each table is
    * released once it is no longer read (the train table after the
    * fit, the test table after the write), and both are released, and
    * the table thread joined, when a build or the fit throws.
    *
    * When train.csv and test.csv hold at most
    * [[InterpretedInputBytes]] together, all of this runs in an
    * [[interpreted]] copy of `s`, made for this call; otherwise in `s`.
    * Either way the CSV holds the same bytes.
    *
    * The returned submission frame (one row per test complex) is
    * therefore the lazy plan: using it after the call recomputes the
    * test table from test.csv, with the same fitted forest, so it
    * holds the rows the CSV holds. It belongs to the session that ran
    * the call. On inputs under the cut-off that is the interpreted
    * copy: it runs interpreted and is seen by the listeners `s` had at
    * the call, a temp view made of it is registered in the copy's
    * catalog, not in `s`'s, and settings changed on `s` after the call
    * do not reach it. */
  def submission(s: SparkSession, trainPath: String, testPath: String,
      outDir: Option[String] = None): DataFrame =
    submissionWithin(InterpretedInputBytes)(s, trainPath, testPath, outDir)

  /** [[submission]], run interpreted when its two CSVs hold at most
    * `interpretUpTo` bytes together (−1: always compiled). */
  private[graft] def submissionWithin(interpretUpTo: Long)(s: SparkSession,
      trainPath: String, testPath: String, outDir: Option[String]): DataFrame = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
    import org.apache.spark.ml.regression.RandomForestRegressor
    val run =
      if (totalAtMost(s, Seq(trainPath, testPath), interpretUpTo)) interpreted(s)
      else s
    withFeatureTableBeside(clean(loadTest(run, testPath))) { testTable =>
      val rf = withFeatureTable(clean(loadTrain(run, trainPath))) { (_, train) =>
        val prep: Array[org.apache.spark.ml.PipelineStage] = Array(
          new StringIndexer().setInputCol("지역").setOutputCol("region_idx")
            .setStringOrderType("alphabetAsc").setHandleInvalid("keep"),
          new OneHotEncoder().setInputCol("region_idx")
            .setOutputCol("region_oh").setDropLast(true),
          new VectorAssembler().setInputCols(numCols :+ "region_oh")
            .setOutputCol("features").setHandleInvalid("keep"))
        new Pipeline().setStages(prep :+
          new RandomForestRegressor().setLabelCol("label")
            .setFeaturesCol("features").setNumTrees(50).setSeed(4))
          .fit(train.withColumnRenamed("등록차량수", "label"))
      }
      val (testPlan, test) = testTable()
      def predict(t: DataFrame) = rf.transform(t)
        .select(col("단지코드").as("code"), col("prediction").as("num"))
        .orderBy("code")
      outDir.foreach(dir => graft.sources.CsvIO.writeCsv(predict(test), dir))
      predict(testPlan)
    }
  }

  /** O3 — deterministic 80/20 split (R:962–992's seeded stratified
    * split), KEY-DERIVED per SURVEY §7.1: membership is
    * `pmod(xxhash64(단지코드), 5) < 4`, a pure scan-level filter — no
    * RNG, no per-stratum window sort (the earlier rank-within-region
    * form sorted each of ~16 regions in a single task; at 100× that
    * is a straggler by construction). The hash decorrelates the
    * decision from the code's lexicographic structure, so each
    * region's train share concentrates near 80% without any exact
    * per-stratum guarantee — the scale-correct trade. */
  def stratifiedSplit(features: DataFrame): (DataFrame, DataFrame) = {
    val inTrain = pmod(xxhash64(col("단지코드")), lit(5)) < 4
    (features.filter(inTrain), features.filter(!inTrain))
  }
}
