package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * action; materializing each table once must not move a byte of it. */
class ParkingFixtureSpec extends SparkTestBase {

  private val fixture = Paths.get(
    getClass.getResource("/parking/train.csv").toURI).getParent
  private val trainCsv = fixture.resolve("train.csv").toString
  private val testCsv = fixture.resolve("test.csv").toString

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

  /** Job ids started under `group` while `body` ran. A marker job in
    * its own group runs after `body`: the listener bus delivers events
    * in order, so once the marker is visible every job of `body` is. */
  private def jobsOf[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "the marker job never reached the status tracker")
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
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
      val parts = Files.list(out.resolve("sub")).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      val written = parts.map(p => new String(Files.readAllBytes(p), "UTF-8"))
        .mkString
      val golden = new String(
        Files.readAllBytes(fixture.resolve("submission.csv")), "UTF-8")
      assert(written == golden)
    } finally deleteTree(out)
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

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }
}
