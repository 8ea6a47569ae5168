package graft

import org.apache.spark.sql.functions.{col, udf}

/** [[Bench.run]] times each query's whole output, and a query that
  * throws records no time and is listed as failed. */
class BenchSpec extends SparkTestBase {

  test("the timed action computes every row of the output projection") {
    val seen = spark.sparkContext.longAccumulator("bench-rows")
    val bump = udf { (x: Long) => seen.add(1); x * 2 }
    val rows = 1000L
    val results = Bench.run(spark, sfTest, Seq("projected" ->
      ((s, _) => s.range(0, rows, 1, 4).select(bump(col("id")).as("y")))))
    assert(results.map(_._1) == Seq("projected"))
    assert(results.head._2.exists(_ >= 0.0))
    // count() would prune the projection and leave the accumulator at 0
    assert(seen.value == rows)
  }

  test("a query that throws records no time and is listed as failed") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom"); x }
    val results = Bench.run(spark, sfTest, Seq(
      "at_plan" -> ((_, _) => throw new IllegalArgumentException("no plan")),
      "at_run" -> ((s, _) => s.range(3).select(boom(col("id")))),
      "fine" -> ((s, _) => s.range(3).toDF())))
    val times = results.toMap
    assert(times("at_plan").isEmpty && times("at_run").isEmpty)
    assert(times("fine").isDefined)
    val line = Bench.json(results, sfTest)
    assert(line.startsWith("""{"metric":"total","value":""" +
      times("fine").get + ""","unit":"sec","n_queries":3,"ok":false,"""))
    assert(line.contains(""""failed":["at_plan","at_run"]"""))
    assert(line.contains(
      s""""queries":{"at_plan":null,"at_run":null,"fine":${times("fine").get}}"""))
    assert(line.endsWith(s""""sf":"$sfTest"}"""))
  }
}
