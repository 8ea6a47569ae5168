package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.ops.Rounds
import graft.parking.ParkingPipeline._

/** The paper's pipeline on a committed tiny instance of the
  * reference's CSV schema, so it is tested without the reference data
  * (ParkingSpec needs the real CSVs).
  *
  * The fixture under `src/test/resources/parking/` was written once by
  * `perfbench/gen.py`'s `parking(1, out, n_train=8, n_test=4)`: 71
  * train rows over 8 complexes, 28 test rows over 4, Korean headers,
  * ""/"-" rent sentinels, and one complex, C01006, with no priced unit
  * and two building types. The expected values below were derived from
  * the CSV text by hand (exact fractions), not by the pipeline.
  * `submission.csv` is the CSV `submission` wrote for this fixture
  * while it still built each feature table lazily, once per Spark
  * action; materializing each table once must not move a byte of it,
  * and neither must running it interpreted (the fixture is under
  * `InterpretedInputBytes`) or compiled (the cut-off forced below
  * it). */
class ParkingFixtureSpec extends SparkTestBase {

  private val fixture = Paths.get(
    getClass.getResource("/parking/train.csv").toURI).getParent
  private val trainCsv = fixture.resolve("train.csv").toString
  private val testCsv = fixture.resolve("test.csv").toString
  private val ageGenderCsv = fixture.resolve("age_gender_info.csv").toString

  private val trainCodes = (0 to 14 by 2).map(i => f"C${1000 + i}%05d")
  private val testCodes = (1 to 7 by 2).map(i => f"C${1000 + i}%05d")

  private def cleanedTrain = clean(loadTrain(spark, trainCsv))
  private def cleanedTest = clean(loadTest(spark, testCsv))

  /** Complex-level discovery the way it was computed before it was
    * one shuffle: a `countDistinct` per column, then a separate
    * `distinct().count()` of the keys. */
  private def oldComplexLevelColumns(df: DataFrame, key: String) = {
    val others = df.columns.filterNot(_ == key).toSeq
    val perGroup = df.groupBy(key)
      .agg(countDistinct(col(others.head)).as(others.head),
        others.tail.map(c => countDistinct(col(c)).as(c)): _*)
    val sums = perGroup
      .agg(sum(col(others.head)).as(others.head),
        others.tail.map(c => sum(col(c)).as(c)): _*)
      .head()
    val nKeys = df.select(key).distinct().count()
    key +: others.filter(c => sums.getAs[Long](c) <= nKeys)
  }

  /** The feature table as it was built before one aggregate held every
    * per-complex column: one aggregate per table, a two-aggregate
    * `pivot` for the bands, and three broadcast joins on the key. */
  private def oldPerComplex(df: DataFrame) =
    df.select(complexLevelColumns(df, "단지코드").map(col): _*)
      .dropDuplicates("단지코드")

  private def oldTotalArea(df: DataFrame) = df.groupBy("단지코드")
    .agg(sum(col("전용면적") * col("전용면적별세대수")).as("총면적"))

  private def oldAreaBandPivot(df: DataFrame) = {
    val band = least(greatest(bround(col("전용면적"), -1), lit(10.0)),
      lit(100.0)).cast("int")
    val pivoted = df.withColumn("band", band)
      .groupBy("단지코드").pivot("band", bands)
      .sum("전용면적별세대수")
      .na.fill(0, bands.map(_.toString))
    bands.foldLeft(pivoted) { (d, b) =>
      d.withColumnRenamed(b.toString, f"전용면적_$b%03d")
    }
  }

  private def oldWeightedRentRaw(df: DataFrame) = {
    def weighted(c: String) =
      (sum(when(col(c).isNotNull, col(c) * col("전용면적별세대수")))
        / sum(when(col(c).isNotNull, col("전용면적별세대수")))).as(c)
    df.groupBy("단지코드").agg(weighted("임대보증금"), weighted("임대료"))
  }

  private def oldWeightedRent(df: DataFrame) = {
    val raw = oldWeightedRentRaw(df)
    val meds = raw.agg(
      expr("percentile(`임대보증금`, 0.5)").as("med_deposit"),
      expr("percentile(`임대료`, 0.5)").as("med_rent"))
    raw.crossJoin(broadcast(meds))
      .select(col("단지코드"),
        coalesce(col("임대보증금"), col("med_deposit")).as("임대보증금"),
        coalesce(col("임대료"), col("med_rent")).as("임대료"))
  }

  private def oldFeatureTableOf(cleaned: DataFrame) =
    oldPerComplex(cleaned)
      .join(broadcast(oldTotalArea(cleaned)), Seq("단지코드"))
      .join(broadcast(oldAreaBandPivot(cleaned)), Seq("단지코드"))
      .join(broadcast(oldWeightedRent(cleaned)), Seq("단지코드"))
      .na.fill(0.0, Seq("지하철역수", "버스정류장수"))
      .withColumn("세대당주차면수", col("단지내주차면수") / col("총세대수"))
      .withColumn("대중교통수", col("지하철역수") + col("버스정류장수"))

  /** `knnImputeRentsOnComplex` on its three-join base. */
  private def oldKnnImpute(s: SparkSession, path: String) = {
    val cleaned = clean(loadTrain(s, path))
    val base = oldPerComplex(cleaned)
      .join(broadcast(oldTotalArea(cleaned)), Seq("단지코드"))
      .join(broadcast(oldWeightedRentRaw(cleaned)), Seq("단지코드"))
      .select(col("단지코드"), col("총세대수").cast("double").as("총세대수"),
        col("공가수"), col("단지내주차면수"), col("총면적"),
        col("임대보증금"))
    graft.ml.KnnImpute.imputeOf(base, "단지코드",
      Seq("총세대수", "공가수", "단지내주차면수", "총면적"),
      "임대보증금", k = 5)
      .select(col("q_key").as("단지코드"),
        col("imputed").as("임대보증금_knn"))
  }

  /** Same column names, order, types and nullability, and the same
    * rows in the same order. */
  private def assertSameTable(got: DataFrame, expected: DataFrame) = {
    assert(got.schema == expected.schema)
    assert(got.collect().toSeq == expected.collect().toSeq)
  }

  /** The cleaned fixture train frame, in one partition, with planted
    * rows: one with a NULL 단지코드 and rents (the NULL key is one
    * more group for discovery and the medians, and no row of the
    * table); a NULL 전용면적 in C01002 (a row with no band); in
    * C01004 a second 공가수 value on its first row, balanced by
    * C01008's all-NULL 공가수, so 공가수 passes the sum test and
    * `first` picks C01004's value by row order. C01006 keeps no
    * priced unit. */
  private def plantedCleaned = {
    val base = cleanedTrain
    val rows = base.collect().toSeq
    def set(r: Row, updates: (String, Any)*) = {
      val a = r.toSeq.toArray
      updates.foreach { case (c, v) => a(base.schema.fieldIndex(c)) = v }
      Row.fromSeq(a.toSeq)
    }
    def firstOf(code: String) =
      rows.indexWhere(_.getAs[String]("단지코드") == code)
    val planted = rows.zipWithIndex.map {
      case (r, i) if i == firstOf("C01002") => set(r, "전용면적" -> null)
      case (r, i) if i == firstOf("C01004") => set(r, "공가수" -> 99.0)
      case (r, _) if r.getAs[String]("단지코드") == "C01008" =>
        set(r, "공가수" -> null)
      case (r, _) => r
    } :+ set(rows.head, "단지코드" -> null, "임대보증금" -> 1.0e9,
      "임대료" -> 1.0e7)
    spark.createDataFrame(spark.sparkContext.parallelize(planted, 1),
      base.schema)
  }

  test("fixture: discovery finds the hand-derived complex-level columns") {
    // 임대건물구분 is constant in 7 complexes but C01006 has two
    // building types: 7 + 2 = 9 > 8 complexes, so it is not
    // complex-level
    assert(complexLevelColumns(cleanedTrain, "단지코드") == Seq("단지코드",
      "총세대수", "지역", "공가수", "지하철역수", "버스정류장수",
      "단지내주차면수", "등록차량수"))
  }

  test("fixture: the feature table has one row per complex, band sums " +
      "equal households, and the all-NA complex takes the exact median") {
    val feats = featureTable(spark, trainCsv).collect()
    assert(feats.map(_.getAs[String]("단지코드")).sorted.toSeq == trainCodes)
    val households = Map("C01000" -> 857L, "C01002" -> 1580L,
      "C01004" -> 505L, "C01006" -> 1488L, "C01008" -> 1985L,
      "C01010" -> 302L, "C01012" -> 1802L, "C01014" -> 749L)
    feats.foreach { r =>
      val bandSum = bands.map(b => r.getAs[Long](f"전용면적_$b%03d")).sum
      assert(bandSum == households(r.getAs[String]("단지코드")),
        s"band sum of ${r.getAs[String]("단지코드")}")
    }
    // the medians of the 7 priced complexes' household-weighted rents:
    // C01014's deposit 21602900000/713 and C01010's rent 37464200/151
    // (the 4th of 7, so no interpolation)
    val allNa = feats.find(_.getAs[String]("단지코드") == "C01006").get
    assert(allNa.getAs[Double]("임대보증금") == 21602900000.0 / 713)
    assert(allNa.getAs[Double]("임대료") == 37464200.0 / 151)
  }

  test("fixture: one submission row per test complex, and the CSV is " +
      "byte-identical to the recorded golden") {
    val out = Files.createTempDirectory("graft-parking-sub")
    try {
      val sub = submission(spark, trainCsv, testCsv,
        Some(out.resolve("sub").toString))
      assert(sub.columns.toSeq == Seq("code", "num"))
      assert(sub.collect().map(_.getString(0)).toSeq == testCodes)
      assert(written(out.resolve("sub")) == golden)
    } finally deleteTree(out)
  }

  /** The CSV text a write left in `dir`, its part files in name order. */
  private def written(dir: Path): String =
    Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString

  private def golden: String =
    new String(Files.readAllBytes(fixture.resolve("submission.csv")), "UTF-8")

  /** `body`'s result and the plan of every SQL execution it started
    * under job group `group`: each execution's first plan and every
    * adaptive re-plan of it, whichever session ran it (a listener on
    * the SparkContext sees every session's executions). */
  private def plansOf[T](group: String)(body: => T): (T, Seq[SparkPlanInfo]) = {
    val sc = spark.sparkContext
    val marker = s"$group-marker"
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val plans = new ConcurrentLinkedQueue[(Long, SparkPlanInfo)]
    @volatile var sawMarker = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          ids.add(s.executionId)
          plans.add(s.executionId -> s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(u.executionId -> u.sparkPlanInfo)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
          _.getProperty("spark.jobGroup.id") == marker)) sawMarker = true
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      // the listener's queue delivers in order: once it has seen the
      // marker job, it has seen every event of `body`
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sawMarker, "the listener never saw the marker job")
      (out, plans.asScala.toSeq.collect { case (id, p) if ids.contains(id) => p })
    } finally sc.removeSparkListener(listener)
  }

  private def nodeNames(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: p.children.flatMap(nodeNames)

  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** Runs `run` (given an output directory) on the fixture, checks the
    * CSV it wrote against the golden, and returns its frame and the
    * names of every plan node it executed. */
  private def submissionNodes(group: String)(
      run: String => DataFrame): (DataFrame, Seq[String]) = {
    val out = Files.createTempDirectory("graft-parking-paths")
    try {
      val (sub, plans) = plansOf(group)(run(out.resolve("sub").toString))
      assert(plans.nonEmpty, "no SQL execution was seen")
      assert(written(out.resolve("sub")) == golden)
      (sub, plans.flatMap(nodeNames))
    } finally deleteTree(out)
  }

  /** `body`'s result and the successful executions a
    * `QueryExecutionListener` registered on the test session hears of
    * while `body` runs, counted by session: the test session's, any
    * other's. Listeners hear of executions in order but later, so the
    * counts are read once a marker query run after `body` is heard of. */
  private def listened[T](body: => T): (T, Int, Int) = {
    val own = new java.util.concurrent.atomic.AtomicInteger
    val other = new java.util.concurrent.atomic.AtomicInteger
    val marker = "graft-listened-marker"
    @volatile var sawMarker = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.sparkSession ne spark) other.incrementAndGet()
        else if (qe.analyzed.toString.contains(marker)) sawMarker = true
        else own.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.sql(s"SELECT '$marker'").collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sawMarker, "the listener never saw the marker query")
      (out, own.get, other.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("paths: on the fixture submission runs in an interpreted copy of " +
      "the session (no whole-stage codegen), writes the golden CSV, is " +
      "seen by the caller's listeners, and leaves the caller's session " +
      "as it was; the frame it returns belongs to the copy") {
    val fixtureBytes = Seq(trainCsv, testCsv).map(p => Files.size(Paths.get(p))).sum
    assert(fixtureBytes <= InterpretedInputBytes)
    val ((sub, nodes), own, other) = listened {
      submissionNodes("graft-interpreted")(out =>
        submission(spark, trainCsv, testCsv, Some(out)))
    }
    assert(!nodes.exists(_.startsWith("WholeStageCodegen")),
      s"compiled stages on the small input: ${nodes.distinct}")
    assert(own == 0 && other > 0,
      s"the caller's listener saw $own own and $other copied executions")
    assert(!spark.sessionState.conf.contains(FactoryMode))
    // the returned frame is in the copy: a listener registered on the
    // caller's session after the call does not hear of it, and its temp
    // views land in the copy's catalog
    assert(sub.sparkSession ne spark)
    assert(sub.sparkSession.conf.get(FactoryMode) == "NO_CODEGEN")
    val (codes, _, seen) = listened(sub.collect().map(_.getString(0)).toSeq)
    assert(codes == testCodes)
    assert(seen == 0)
    sub.createOrReplaceTempView("graft_probe_submission")
    assert(!spark.catalog.tableExists("graft_probe_submission"))
    assert(sub.sparkSession.catalog.tableExists("graft_probe_submission"))
  }

  test("paths: above the cut-off submission runs in the caller's session " +
      "and its compiled plans, and the CSV is again the golden") {
    val ((sub, nodes), own, other) = listened {
      submissionNodes("graft-compiled")(out =>
        submissionWithin(-1L)(spark, trainCsv, testCsv, Some(out)))
    }
    assert(nodes.exists(_.startsWith("WholeStageCodegen")),
      s"no compiled stage above the cut-off: ${nodes.distinct}")
    assert(own > 0 && other == 0)
    assert(sub.sparkSession eq spark)
    assert(!spark.sessionState.conf.contains(FactoryMode))
  }

  test("paths: the cut-off sums the files, a directory's files included, " +
      "and a path that cannot be listed keeps the compiled path") {
    def size(p: Path) = Files.size(p)
    val both = size(Paths.get(trainCsv)) + size(Paths.get(testCsv))
    assert(totalAtMost(spark, Seq(trainCsv, testCsv), both))
    assert(!totalAtMost(spark, Seq(trainCsv, testCsv), both - 1))
    val dir = Files.list(fixture).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map(size).sum
    assert(totalAtMost(spark, Seq(fixture.toString), dir))
    assert(!totalAtMost(spark, Seq(fixture.toString), dir - 1))
    assert(!totalAtMost(spark,
      Seq(fixture.resolve("missing.csv").toString), Long.MaxValue))
  }

  test("paths: the interpreted copy starts with the caller's settings " +
      "(custom keys included), temp views, functions and listeners, and " +
      "changes none of them") {
    val dir = Files.createTempDirectory("graft-parking-ckpt").toString
    val partitions = "spark.sql.shuffle.partitions"
    val prevPartitions = spark.conf.get(partitions)
    spark.conf.set(Rounds.CheckpointDirKey, dir)
    spark.conf.set(partitions, "3")
    spark.udf.register("graft_probe_plus1", (x: Long) => x + 1)
    // the loaders read in the caller's session: its catalog holds this
    loadTrain(spark, trainCsv).createOrReplaceTempView("graft_probe_train")
    try {
      val rows = spark.sql("SELECT count(*) FROM graft_probe_train").head.getLong(0)
      val ((child, plus1), _, other) = listened {
        val child = interpreted(spark)
        (child, child.sql("SELECT graft_probe_plus1(count(*)) " +
          "FROM graft_probe_train").head.getLong(0))
      }
      assert(plus1 == rows + 1)
      assert(other == 1)
      assert(child ne spark)
      assert(child.conf.get(Rounds.CheckpointDirKey) == dir)
      assert(child.conf.get(partitions) == "3")
      assert(child.conf.get(FactoryMode) == "NO_CODEGEN")
      assert(!spark.sessionState.conf.contains(FactoryMode))
      assert(spark.conf.get(partitions) == "3")
    } finally {
      spark.catalog.dropTempView("graft_probe_train")
      spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_probe_plus1")
      spark.conf.unset(Rounds.CheckpointDirKey)
      spark.conf.set(partitions, prevPartitions)
      deleteTree(Paths.get(dir))
    }
  }

  test("demographics: each complex of the feature table gets its " +
      "region's 22 shares of age_gender_info.csv") {
    val lines = Files.readAllLines(Paths.get(ageGenderCsv)).asScala.toSeq
    val shareCols = lines.head.split(",").toSeq.tail
    val shares = lines.tail.map { l =>
      val a = l.split(",")
      a.head -> a.tail.map(_.toDouble).toSeq
    }.toMap
    assert(shareCols.size == 22 && shares.size == 16)
    val features = featureTable(spark, trainCsv)
    val ageGender = loadAgeGender(spark, ageGenderCsv)
    val joined = withDemographics(features, ageGender)
    assert(joined.columns.toSet == (features.columns ++ shareCols).toSet)
    val rows = joined.collect()
    assert(rows.map(_.getAs[String]("단지코드")).sorted.toSeq == trainCodes)
    rows.foreach { r =>
      val region = r.getAs[String]("지역")
      assert(shares.contains(region), s"$region is not in the CSV")
      assert(shareCols.map(c => r.getAs[Double](c)) == shares(region),
        s"shares of ${r.getAs[String]("단지코드")} ($region)")
    }
  }

  test("fixture: submission and fitAndScore leave no cached data and no " +
      "persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Files.createTempDirectory("graft-parking-release")
    try {
      submission(spark, trainCsv, testCsv, Some(out.resolve("sub").toString))
      fitAndScore(spark, trainCsv).collect()
    } finally deleteTree(out)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    assert(cleanedTrain.storageLevel == StorageLevel.NONE,
      "the cleaned train frame is still cached")
    assert(cleanedTest.storageLevel == StorageLevel.NONE,
      "the cleaned test frame is still cached")
  }

  test("discovery: one shuffle, and the same columns as the " +
      "countDistinct form on planted nulls") {
    import spark.implicits._
    val planted = Seq[(String, Option[Int], Option[String], Option[Int])](
      // g1: c_one constant, c_null null in every row, c_two two values
      ("g1", Some(1), None, Some(1)),
      ("g1", Some(1), None, Some(2)),
      // g2: c_null constant, c_two all null — it balances g1's two
      // values, so c_two sums to 2 + 0 + 1 + 1 = 4 = #keys
      ("g2", Some(2), Some("a"), None),
      ("g2", Some(2), Some("a"), None),
      ("g3", Some(3), Some("b"), Some(3)),
      // the null key is one more group
      (null, Some(4), Some("c"), Some(4)),
      (null, None, Some("c"), Some(4)))
      .toDF("k", "c_one", "c_null", "c_two")
      // c_many varies within g1 and g3 and is never balanced
      .withColumn("c_many", monotonically_increasing_id())
    val (expected, oldJobs) = jobsOf("graft-discovery-old") {
      oldComplexLevelColumns(planted, "k")
    }
    assert(expected == Seq("k", "c_one", "c_null", "c_two"))
    val (found, jobs) = jobsOf("graft-discovery") {
      complexLevelColumns(planted, "k")
    }
    assert(found == expected)
    // adaptive execution runs each shuffle's map side as a job of its
    // own, so one shuffle is two jobs: the map side and the fold. The
    // countDistinct form took seven (an Expand over three shuffles,
    // then distinct().count()).
    assert(jobs == 2, s"discovery started $jobs jobs")
    assert(oldJobs > jobs, s"the countDistinct form started $oldJobs jobs")
  }

  test("scoring: one aggregate gives the evaluator's rmse and r2 and " +
      "the filtered-mean mape") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pred = (Seq("lm", "rf").flatMap { m =>
      (1 to 40).map { i =>
        val label = if (i % 9 == 0) 0.0 else rnd.nextGaussian() * 300 + 900
        (m, label, label + rnd.nextGaussian() * 80)
      }
    }).toDF("model", "label", "prediction")
    val scores = regressionScores(pred).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(scores.keySet == Set("lm", "rf"))
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    Seq("lm", "rf").foreach { m =>
      val p = pred.filter($"model" === m)
      val ev = new RegressionEvaluator().setLabelCol("label")
        .setPredictionCol("prediction")
      val mape = p.filter($"label" =!= 0.0)
        .agg(avg(abs(($"label" - $"prediction") / $"label")))
        .head().getDouble(0)
      val expected = Map("rmse" -> ev.setMetricName("rmse").evaluate(p),
        "r2" -> ev.setMetricName("r2").evaluate(p), "mape" -> mape)
      expected.foreach { case (metric, v) =>
        val got = scores(m).getAs[Double](metric)
        assert(close(got, v), s"$m $metric: $got vs evaluator $v")
      }
    }
  }

  test("fixture: clean keeps every row, turns the \"\" and \"-\" rent " +
      "sentinels into NULLs and renames the transit columns") {
    // counted in the CSV text: train 임대보증금 20 "" + 6 "-" of 71,
    // 임대료 19 "" + 6 "-"; test 임대보증금 8 "" of 28, 임대료 4 ""
    val expected = Seq(
      (cleanedTrain, 71L, Map("임대보증금" -> 26L, "임대료" -> 25L)),
      (cleanedTest, 28L, Map("임대보증금" -> 8L, "임대료" -> 4L)))
    expected.foreach { case (df, rows, nulls) =>
      assert(df.count() == rows)
      nulls.foreach { case (c, n) =>
        assert(df.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
        assert(df.filter(col(c).isNull).count() == n, s"NULL ${c}s")
      }
      assert(df.columns.contains("지하철역수") && df.columns.contains("버스정류장수"))
      assert(!df.columns.exists(_.startsWith("도보 10분거리")))
    }
  }

  test("fixture: stratifiedSplit puts each complex on the side " +
      "pmod(xxhash64(code), 5) < 4 gives") {
    // xxhash64 (seed 42) of the UTF-8 code, pmod 5, computed with an
    // independent XXH64: train C01000 0, C01002 4, C01004 2, C01006 0,
    // C01008 4, C01010 0, C01012 1, C01014 1; test C01001 0, C01003 4,
    // C01005 4, C01007 2
    def codes(df: DataFrame) =
      df.select("단지코드").distinct().collect().map(_.getString(0)).sorted.toSeq
    val (fitTrain, heldOut) = stratifiedSplit(featureTable(spark, trainCsv))
    assert(codes(fitTrain) == Seq("C01000", "C01004", "C01006", "C01010",
      "C01012", "C01014"))
    assert(codes(heldOut) == Seq("C01002", "C01008"))
    val (testIn, testOut) = stratifiedSplit(cleanedTest)
    assert(codes(testIn) == Seq("C01001", "C01007"))
    assert(codes(testOut) == Seq("C01003", "C01005"))
  }

  test("feature table: the one aggregate equals the per-table join form " +
      "on the fixture and on planted NULLs and a first-by-row-order column") {
    assertSameTable(featureTableOf(cleanedTrain), oldFeatureTableOf(cleanedTrain))
    assertSameTable(featureTableOf(cleanedTest), oldFeatureTableOf(cleanedTest))
    val planted = plantedCleaned
    val table = featureTableOf(planted)
    assert(table.columns.contains("공가수"))
    val rows = table.collect()
    assert(rows.map(_.getAs[String]("단지코드")).sorted.toSeq == trainCodes)
    assert(rows.find(_.getAs[String]("단지코드") == "C01004").get
      .getAs[Double]("공가수") == 99.0)
    assertSameTable(table, oldFeatureTableOf(planted))
  }

  test("area bands: conditional sums equal the zero-filled pivot") {
    // the same schema and rows; on its own each is an unordered hash
    // aggregate (the pivot's second aggregate emits in another order),
    // so rows are compared by key here, and in table order above
    Seq(cleanedTrain, plantedCleaned).foreach { df =>
      val (got, old) = (areaBandPivot(df), oldAreaBandPivot(df))
      assert(got.schema == old.schema)
      assert(got.orderBy("단지코드").collect().toSeq ==
        old.orderBy("단지코드").collect().toSeq)
    }
  }

  test("feature table: materializing it starts fewer jobs than the " +
      "per-table join form") {
    def build(table: DataFrame) = Rounds.release(Rounds.materialize(table))
    val (_, oldJobs) = jobsOf("graft-table-old") {
      build(oldFeatureTableOf(cleanedTrain))
    }
    val (_, jobs) = jobsOf("graft-table") { build(featureTableOf(cleanedTrain)) }
    info(s"jobs to materialize one table: $jobs, the join form $oldJobs")
    assert(jobs < oldJobs, s"one aggregate $jobs jobs, join form $oldJobs")
  }

  test("knn imputation: the shared aggregate gives the three-join base's " +
      "output, and fails the same way on a column that is not complex-level") {
    assertSameTable(knnImputeRentsOnComplex(spark, trainCsv),
      oldKnnImpute(spark, trainCsv))
    // a second 총세대수 in C01000 makes 총세대수 not complex-level
    val dir = Files.createTempDirectory("graft-parking-knn")
    try {
      val bad = dir.resolve("train.csv")
      val text = new String(Files.readAllBytes(Paths.get(trainCsv)), "UTF-8")
      assert(text.contains("\nC01000,84,"))
      Files.write(bad, text.replaceFirst("\nC01000,84,", "\nC01000,85,")
        .getBytes("UTF-8"))
      val got = intercept[AnalysisException](
        knnImputeRentsOnComplex(spark, bad.toString))
      val old = intercept[AnalysisException](oldKnnImpute(spark, bad.toString))
      assert(got.getCondition == old.getCondition)
      assert(got.getCondition.startsWith("UNRESOLVED_COLUMN"))
    } finally deleteTree(dir)
  }

  test("submission: every job it starts runs under the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val out = Files.createTempDirectory("graft-parking-group")
    sc.addSparkListener(listener)
    try {
      val (_, inGroup) = jobsOf("graft-submission") {
        submission(spark, trainCsv, testCsv, Some(out.resolve("sub").toString))
      }
      // the listener's queue delivers in order: once it has seen the
      // marker job, it has seen every job of the call
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("graft-submission-marker") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      val seen = groups.asScala.toSeq.takeWhile(_ != "graft-submission-marker")
      assert(inGroup > 0 && seen.count(_ == "graft-submission") == inGroup)
      assert(seen.count(_ != "graft-submission") == 0,
        s"jobs outside the caller's group: ${seen.filter(_ != "graft-submission")}")
    } finally {
      sc.removeSparkListener(listener)
      deleteTree(out)
    }
  }

  test("submission: a failed build throws and leaves no persisted RDD, " +
      "cached frame or table thread behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def tableThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == TableThreadName && t.isAlive)
    val out = Files.createTempDirectory("graft-parking-fail")
    try {
      val missing = out.resolve("missing.csv").toString
      // the test table's build fails on its own thread, after the train
      // table was built and the forest fit
      val noTest = intercept[AnalysisException](
        submission(spark, trainCsv, missing, Some(out.resolve("a").toString)))
      assert(noTest.getCondition == "PATH_NOT_FOUND")
      assert(tableThreads.isEmpty, "the table thread outlived the call")
      // the train table's build fails while the test table is built
      val noTrain = intercept[AnalysisException](
        submission(spark, missing, testCsv, Some(out.resolve("b").toString)))
      assert(noTrain.getCondition == "PATH_NOT_FOUND")
      assert(tableThreads.isEmpty, "the table thread outlived the call")
      assert(!Files.exists(out.resolve("a")) && !Files.exists(out.resolve("b")))
    } finally deleteTree(out)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    assert(cleanedTrain.storageLevel == StorageLevel.NONE,
      "the cleaned train frame is still cached")
    assert(cleanedTest.storageLevel == StorageLevel.NONE,
      "the cleaned test frame is still cached")
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }
}
