package graft

import org.apache.spark.sql.{GraftSqlShims, GraftTestShims, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.plans.{RewriteRankFilterToTopK, TopKStrategy}

/** The two ways a session gets graft's functions, strategy and rule:
  * built by `GraftExtensions.session` (injected at build time), or
  * built elsewhere and given them by `GraftExtensions.install`, which
  * every `SparkEntry` query calls. */
class SessionSpec extends SparkTestBase {

  private val names = GraftFunctions.functions.map(_._1)

  private def infos(s: SparkSession) = names.map(n =>
    s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(n)).get)

  /** The `row_number() <= k` idiom the rewrite rule turns into the
    * custom operator. */
  private def rankFilter(s: SparkSession) = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, sfSmoke)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
  }

  test("a factory session has every function and plans TopKPerKey on its first query") {
    // a new session from the factory's: the same extensions, and no
    // query run on it yet
    val fresh = spark.newSession()
    names.foreach(n => assert(fresh.catalog.functionExists(n), n))
    val plan = rankFilter(fresh).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey ["), s"first query missed the rule:\n$plan")
    GraftExtensions.install(fresh)
    val exp = GraftSqlShims.experimental(fresh)
    assert(exp.extraStrategies.isEmpty && exp.extraOptimizations.isEmpty,
      "install added to a session that already had the extensions")
  }

  test("install on a plain session adds everything once and replaces nothing") {
    val plain = GraftTestShims.plainSession(spark.sparkContext)
    names.foreach(n => assert(!plain.catalog.functionExists(n),
      s"$n is there before install: the session is not plain"))
    GraftExtensions.install(plain)
    names.foreach(n => assert(plain.catalog.functionExists(n), n))
    val first = infos(plain)
    GraftExtensions.install(plain)
    infos(plain).zip(first).zip(names).foreach { case ((now, was), n) =>
      assert(now eq was, s"the second install replaced $n")
    }
    val exp = GraftSqlShims.experimental(plain)
    assert(exp.extraStrategies.count(_ eq TopKStrategy) == 1)
    assert(exp.extraOptimizations.count(_ eq RewriteRankFilterToTopK) == 1)
    assert(plain.sessionState.planner.strategies.count(_ eq TopKStrategy) == 1)
    val plan = rankFilter(plain).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey ["), s"the rule did not apply:\n$plan")
  }

  test("a SparkEntry query gives a plain session the same rows as a factory session") {
    val plain = GraftTestShims.plainSession(spark.sparkContext)
    val q = SparkEntry.queries("j11_jaro_winkler_join")
    def rows(s: SparkSession) = q(s, sfSmoke).collect().map(_.toString).sorted.toSeq
    val want = rows(spark)
    assert(want.nonEmpty)
    assert(rows(plain) == want)
  }
}
