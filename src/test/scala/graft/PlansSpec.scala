package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopK

/** The custom whole-operator path (SURVEY §7: LogicalPlan + Strategy +
  * SparkPlan + optimizer Rule): per-key top-k via bounded heaps.
  * Checks semantics against the window-function formulation, the
  * physical plan shape (partial/final pair, one keyed exchange, no
  * Sort/Window), the bounded-memory flush path, and the rank-filter
  * rewrite rule. */
class PlansSpec extends SparkTestBase {

  private def windowFormulation = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, sfTest)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
  }

  test("topKPerKey matches the window-rank formulation") {
    // ground truth keeps the rank column so the rewrite rule (on the
    // session from its first query) cannot replace it with the
    // operator under test; drop rank driver-side.
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expected = Tables.orders(spark, sfTest)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val custom = TopK.o4TopKPerKey(spark, sfTest)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(custom == expected)
  }

  // AQE wraps the unexecuted plan in AdaptiveSparkPlan, so assert on
  // the plan string (which renders the whole wrapped tree), not on
  // SparkPlan.collect.
  private def physicalString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("topKPerKey plans as partial+final heaps with one keyed exchange, no Sort/Window") {
    val s = physicalString(TopK.o4TopKPerKey(spark, sfTest))
    assert(s.contains(", 3, true") && s.contains(", 3, false") &&
      s.split("TopKPerKey \\[").length - 1 == 2,
      s"expected a partial+final TopKPerKeyExec pair:\n$s")
    assert(s.contains("Exchange hashpartitioning"), s"expected one keyed exchange:\n$s")
    assert(!s.contains("Sort ") && !s.contains("Window"),
      s"custom path must not sort or window:\n$s")
  }

  test("partial flush threshold does not change results") {
    val before = TopK.o4TopKPerKey(spark, sfTest).collect().toSet
    spark.conf.set("spark.graft.topk.partialFlushRows", "2")
    try {
      val flushed = TopK.o4TopKPerKey(spark, sfTest).collect().toSet
      assert(flushed == before)
    } finally spark.conf.unset("spark.graft.topk.partialFlushRows")
  }

  test("global top-k (no keys) reduces to a single group") {
    val custom = TopK.topKPerKey(
      Tables.orders(spark, sfSmoke).select("o_orderkey", "o_totalprice"),
      Seq.empty,
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 5)
    val expected = Tables.orders(spark, sfSmoke)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(5)
    assert(custom.collect().toSet == expected.collect().toSet)
  }

  test("optimizer rule rewrites row_number<=k filter into TopKPerKeyExec") {
    val s = physicalString(windowFormulation)
    assert(s.split("TopKPerKey \\[").length - 1 == 2,
      s"rank-filter idiom should plan via the custom operator:\n$s")
    assert(windowFormulation.collect().toSet ==
      TopK.o4TopKPerKey(spark, sfTest).collect().toSet)
  }

  test("n1 brute-force top-k runs through the custom operator") {
    val s = physicalString(sim.Similarity.n1SimTopkBruteforce(spark, sfSmoke))
    assert(s.contains(", 5, true") && s.contains(", 5, false"),
      s"n1's ranking tail should heap-reduce via TopKPerKey:\n$s")
  }

  test("GraftExtensions injects the strategy and rule at builder time") {
    import org.apache.spark.sql.{GraftTestShims, SparkSessionExtensions}
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(GraftTestShims.plannerStrategies(ext, spark)
      .contains(graft.plans.TopKStrategy))
    assert(GraftTestShims.optimizerRules(ext, spark)
      .contains(graft.plans.RewriteRankFilterToTopK))
    assert(GraftTestShims.injectedFunctions(ext) ==
      functions.GraftFunctions.functions.map(_._1).toSet)
  }

  test("s19 latest-by-key: one row per user, the newest, via the operator") {
    val df = TopK.s19LatestByKey(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected the custom exec:\n$plan")
    assert(!plan.contains("WindowExec"), "must not fall back to a window sort")
    val users = Tables.events(spark, sfSmoke)
      .select(countDistinct("user_id")).head().getLong(0)
    assert(df.count() == users)
    // the kept row really is the per-user max (ts, event_id)
    val naive = Tables.events(spark, sfSmoke)
      .groupBy("user_id")
      .agg(max(struct(unix_micros(col("ts")).as("ts_us"),
        col("event_id"))).as("m"))
      .select(col("user_id"), col("m.ts_us"), col("m.event_id"))
    assert(df.select("user_id", "ts_us", "event_id")
      .except(naive).isEmpty)
  }

  test("rule leaves the plan alone when the rank column is kept") {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val keepsRank = Tables.orders(spark, sfSmoke)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn")
    val s = physicalString(keepsRank)
    assert(!s.contains("TopKPerKey ["),
      s"rank column is consumed — rewrite must not fire:\n$s")
    assert(keepsRank.count() == 15)
  }
}
