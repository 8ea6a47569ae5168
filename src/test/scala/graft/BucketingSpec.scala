package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  ApproximatePercentile, HyperLogLogPlusPlus, Percentile}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Co-located joins via bucketing (SURVEY §4 / the 100 TB design):
  * writing both fact tables bucketed on the join key lets the join
  * plan without ANY shuffle exchange — the property that matters when
  * the join is run repeatedly at scale. Also checks the approximate
  * aggregates' error envelope. */
class BucketingSpec extends SparkTestBase {

  test("join of tables bucketed on the key plans without a shuffle") {
    // tables land in the default ./spark-warehouse (gitignored);
    // warehouse.dir is a static config and can't move at runtime.
    // Each forked test JVM gets a fresh in-memory catalog, so orphaned
    // directories from prior runs must be removed on disk too.
    Seq("li_b", "ord_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      new scala.reflect.io.Directory(
        new java.io.File(s"spark-warehouse/$t")).deleteRecursively()
    }
    Tables.lineitem(spark, sfSmoke)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, sfSmoke)
      .select("o_orderkey", "o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")
    val joined = spark.table("li_b").join(spark.table("ord_b"),
      col("l_orderkey") === col("o_orderkey"))
    // force sort-merge so the test checks bucketing, not broadcast
    val smj = joined.hint("merge")
    val plan = smj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    // and it is still correct
    val expected = Tables.lineitem(spark, sfSmoke)
      .join(Tables.orders(spark, sfSmoke),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(smj.count() == expected)
  }

  test("s11 gated query: merge join of bucketed sides, one exchange total") {
    val df = sources.Bucketing.s11BucketedJoin(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // the ONLY exchange is the final 5-group aggregation's — the join
    // itself runs entirely on write-time bucket partitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"bucketed join should leave one (agg) exchange:\n$plan")
    // and the answer is layout-independent
    val viaPlain = Tables.orders(spark, sfSmoke)
      .join(Tables.lineitem(spark, sfSmoke),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority").count()
    val got = df.select("o_orderpriority", "n_items")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = viaPlain.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("per-series Durbin-Watson plans with keyed exchanges only") {
    // the round-1 global Window.orderBy funneled the whole events
    // table through ONE task; the per-series form must show no
    // SinglePartition exchange anywhere in the physical plan
    val plan = ops.Aggregates.m9DurbinWatson(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"DW must not use a single-partition exchange:\n$plan")
    assert(plan.contains("hashpartitioning"),
      "expected a keyed window exchange")
  }

  test("s17 DPP: fact scan carries a dynamic pruning filter") {
    val df = sources.PartitionPruning.s17DppJoin(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression in the fact scan:\n$plan")
    // the pruning must come from the runtime subquery, not a static
    // literal filter on the partition column
    assert(!plan.contains("c_nationkey IN (16,"),
      "pruning should be dynamic, not a static IN-list")
    // correct vs the unpartitioned original
    val want = Tables.customer(spark, sfSmoke)
      .join(Tables.nation(spark, sfSmoke)
        .filter(col("n_regionkey") === 1),
        col("c_nationkey") === col("n_nationkey"))
      .count()
    assert(df.agg(sum("n_customers")).head().getLong(0) == want)
  }

  test("s18 bloom lookup: In filter pushed, every row group has a bloom filter") {
    val df = sources.BloomSkip.s18BloomPointLookup(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(o_orderkey"),
      s"point lookup must reach the parquet reader as a pushed In:\n$plan")
    assert(df.count() == 5)
    // footer-level proof: the written copy carries a bloom filter on
    // o_orderkey in EVERY row group of every file
    val root = sources.BloomSkip.writeBloomCopy(spark, sfSmoke)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), conf)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val groups = reader.getFooter.getBlocks
        assert(!groups.isEmpty)
        groups.forEach { g =>
          val col = g.getColumns.asScala
            .find(_.getPath.toDotString == "o_orderkey").get
          assert(col.getBloomFilterOffset > 0,
            s"row group in $p lacks a bloom filter on o_orderkey")
        }
      } finally reader.close()
    }
  }

  test("e3b built-in session_window matches e3's custom sessionization totals") {
    // same corpus, two sessionizers: the built-in merges at >= gap,
    // the lag form at > gap — totals agree unless an event lands on
    // the 30-minute boundary to the microsecond
    val builtIn = streaming.EventStreams
      .e3bSessionWindowBatch(spark, sfSmoke)
    val custom = streaming.EventStreams
      .e3StreamSession(spark, sfSmoke)
    assert(builtIn.agg(sum("n_events")).head().getLong(0) ==
      custom.agg(sum("n_events")).head().getLong(0))
    assert(builtIn.count() == custom.count())
  }

  test("g13b/g18b bounded-domain gates: approx == exact in every cell") {
    val g = ops.Aggregates.g13bApproxExactGate(spark, sfTest).head()
    assert(g.getLong(0) == g.getLong(1),
      s"HLL++ not exact on the 50-key domain: ${g.getLong(1)}")
    assert(g.getDouble(2) == g.getDouble(4) &&
      g.getDouble(3) == g.getDouble(5),
      "GK percentile left its planted run")
    val rows = ops.Aggregates.g18bGroupedApproxGate(spark, sfTest)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"${r.getString(0)}: grouped " +
        s"HLL++ not exact on the 23-key domain")
      assert(r.getDouble(3) == r.getDouble(5) &&
        r.getDouble(4) == r.getDouble(6),
        s"${r.getString(0)}: grouped GK percentile left its run")
    }
  }

  test("approx aggregates stay inside their error envelope") {
    val r = ops.Aggregates.g13ApproxStats(spark, sfTest).head()
    val (exactN, approxN) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approxN - exactN).toDouble / exactN < 0.05,
      s"HLL err: $approxN vs $exactN")
    val (exactP, approxP) = (r.getDouble(2), r.getDouble(3))
    assert(math.abs(approxP - exactP) / exactP < 0.02,
      s"approx p50: $approxP vs $exactP")
  }

  test("grouped sketches stay inside the envelope in every group") {
    val rows = ops.Aggregates.g18GroupedApproxStats(spark, sfTest)
      .collect()
    assert(rows.length == 5) // one per order priority
    rows.foreach { r =>
      val grp = r.getString(0)
      val (exactN, approxN) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approxN - exactN).toDouble / exactN < 0.05,
        s"$grp HLL err: $approxN vs $exactN")
      val (exactP, approxP) = (r.getDouble(3), r.getDouble(4))
      assert(math.abs(approxP - exactP) / exactP < 0.02,
        s"$grp approx p50: $approxP vs $exactP")
    }
  }

  test("sketch aggregates group by the query's group columns, never by the distinct key") {
    // Spark's single-distinct plan groups every other aggregate by the
    // distinct key first: one HLL++/GK/percentile buffer per distinct
    // key instead of one per group
    object Plans extends AdaptiveSparkPlanHelper
    val sketch: BaseAggregateExec => Boolean =
      _.aggregateExpressions.exists(_.aggregateFunction match {
        case _: HyperLogLogPlusPlus | _: Percentile |
             _: ApproximatePercentile => true
        case _ => false
      })
    val prio = Set("o_orderpriority")
    val bad = Seq[(String, (SparkSession, String) => DataFrame, Set[String])](
      ("g13", ops.Aggregates.g13ApproxStats, Set.empty),
      ("g18", ops.Aggregates.g18GroupedApproxStats, prio),
      ("g13b", ops.Aggregates.g13bApproxExactGate, Set.empty),
      ("g18b", ops.Aggregates.g18bGroupedApproxGate, prio)
    ).flatMap { case (name, q, by) =>
      val df = q(spark, sfTest)
      df.collect()
      val aggs = Plans.collect(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec if sketch(a) =>
          a.groupingExpressions.map(_.name).toSet
      }
      if (aggs.isEmpty) Seq(s"$name: no sketch aggregate in the plan")
      else aggs.filterNot(_.subsetOf(by)).map(keys =>
        s"$name: sketch aggregate grouped by ${keys.mkString(", ")}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("g13/g18 exact columns equal the one-aggregate form, row for row") {
    // the form the queries had before the exact distinct count moved
    // into its own aggregate
    val g13 = Tables.lineitem(spark, sfTest).agg(
      countDistinct("l_orderkey").as("exact_orders"),
      approx_count_distinct("l_orderkey", 0.02).as("approx_orders"),
      expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
      expr("approx_percentile(l_extendedprice, 0.5, 10000)")
        .as("approx_p50"))
    val g18 = Tables.orders(spark, sfTest)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct("o_custkey").as("exact_custs"),
        approx_count_distinct("o_custkey", 0.02).as("approx_custs"),
        expr("percentile(o_totalprice, 0.5)").as("exact_p50"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)")
          .as("approx_p50"))
    def exact(df: DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(exact(ops.Aggregates.g13ApproxStats(spark, sfTest),
      "exact_orders", "exact_p50") == exact(g13, "exact_orders", "exact_p50"))
    def byPrio(df: DataFrame) =
      exact(df, "o_orderpriority", "exact_custs", "exact_p50")
        .map(r => r.head -> r.tail).toMap
    val got = byPrio(ops.Aggregates.g18GroupedApproxStats(spark, sfTest))
    assert(got.size == 5)
    assert(got == byPrio(g18))
  }
}
