package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ops.Rounds
import graft.pipeline.CurationPipeline

/** The two paths of `Dedup.alternatingStarLabels`: a near-dup graph at
  * or under `localFinishCap` edges is finished on the driver from one
  * bounded collect; a larger one runs the large-star/small-star
  * rounds. The cap is derived from the broadcast threshold, so the
  * tests move it with `withStarCap` instead of a parameter. */
class StarLabelsSpec extends SparkTestBase {
  import spark.implicits._

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A path 0-1-…-n of `n` edges, given low→high with a duplicate and
    * a self-loop that the canonical edge set drops. */
  private def chain(n: Int): DataFrame =
    ((0L until n.toLong).map(i => (i, i + 1)) ++
      Seq((1L, 0L), (3L, 3L))).toDF("doc_a", "doc_b")

  test("the cap derives from the broadcast threshold: 10 MB / 48 edges " +
      "by default, 0 with broadcast off") {
    assert(Dedup.localFinishCap(spark) == 10 * 1024 * 1024 / 48)
    withStarCap(0) { assert(Dedup.localFinishCap(spark) == 0) }
  }

  test("a graph of exactly cap edges finishes locally; cap + 1 edges " +
      "takes the rounds; both give the component minima") {
    withStarCap(5) {
      val (atCap, r0) = Dedup.alternatingStarLabels(chain(5))
      assert(r0 == 0, "5 edges at cap 5 must finish on the driver")
      assert(labelMap(atCap) == (0L to 5L).map(_ -> 0L).toMap)
      val (over, r1) = Dedup.alternatingStarLabels(chain(6))
      assert(r1 > 0, "6 edges over cap 5 must run the rounds")
      assert(labelMap(over) == (0L to 6L).map(_ -> 0L).toMap)
    }
  }

  test("an empty edge set finishes locally with no labels, whatever " +
      "the cap") {
    val empty = Seq((4L, 4L)).toDF("doc_a", "doc_b") // self-loop only
    for (cap <- Seq(0, 5)) withStarCap(cap) {
      val (labels, rounds) = Dedup.alternatingStarLabels(empty)
      assert(rounds == 0 && labels.collect().isEmpty, s"cap $cap")
    }
  }

  test("the 1000-doc chain converges in at most 12 rounds on the " +
      "rounds path") {
    withStarCap(0) {
      val (labels, rounds) = Dedup.alternatingStarLabels(chain(999))
      assert(rounds >= 1 && rounds <= 12,
        s"chain took $rounds rounds on the rounds path")
      val m = labelMap(labels)
      assert(m.size == 1000 && m.values.forall(_ == 0L))
    }
  }

  test("local labels carry the rounds path's schema, nullability " +
      "included, and their consumer's join broadcasts them") {
    val strict = chain(4)
    val nullable = chain(4).select(
      when(col("doc_a").isNotNull, col("doc_a")).as("doc_a"),
      when(col("doc_b").isNotNull, col("doc_b")).as("doc_b"))
    assert(nullable.schema.forall(_.nullable))
    for (pairs <- Seq(strict, nullable)) {
      val (local, _) = Dedup.alternatingStarLabels(pairs)
      val (rounds, n) = withStarCap(0)(Dedup.alternatingStarLabels(pairs))
      assert(n > 0)
      assert(local.schema == rounds.schema)
      assert(labelMap(local) == labelMap(rounds))
    }
    val (labels, _) = Dedup.alternatingStarLabels(strict)
    val joined = spark.range(10).select(col("id").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("a small graph costs one job beyond its edge materialization") {
    val pairs = chain(8)
    val (_, matJobs) = jobsOf("graft-star-edges") {
      Rounds.release(Rounds.materialize(Dedup.edgeSet(pairs)))
    }
    val ((_, rounds), jobs) = jobsOf("graft-star-local") {
      Dedup.alternatingStarLabels(pairs)
    }
    assert(rounds == 0)
    assert(jobs == matJobs + 1,
      s"local finish started $jobs jobs, the edge set alone $matJobs")
  }

  test("x25's kept list starts fewer jobs with the local finish than " +
      "on the rounds path, with the same kept docs") {
    // the survivors are a session cache; build them outside the count
    CurationPipeline.survivedDocs(spark, sfTest)
    def kept() = CurationPipeline.keptPlan(spark, sfTest)
      .select("doc_id").as[Long].collect().sorted
    val (local, localJobs) = jobsOf("graft-kept-local")(kept())
    val (rounds, roundsJobs) =
      withStarCap(0)(jobsOf("graft-kept-rounds")(kept()))
    info(s"kept list: $localJobs jobs local, $roundsJobs on the rounds path")
    assert(local.sameElements(rounds))
    assert(localJobs < roundsJobs)
  }
}
