package graft

import org.apache.spark.sql.{GraftSqlShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions
import graft.plans.{RewriteRankFilterToTopK, TopKStrategy}

/** Graft's session extensions: the SQL functions of
  * [[GraftFunctions.functions]], the [[TopKStrategy]] planner strategy
  * and the [[RewriteRankFilterToTopK]] optimizer rule.
  *
  * A session has them when it was built by [[GraftExtensions.session]],
  * with `spark.sql.extensions=graft.GraftExtensions`, or with
  * `withExtensions(new GraftExtensions)`. A session built elsewhere
  * gets the same set from [[GraftExtensions.install]]; every
  * `SparkEntry` query and `TopK.topKPerKey` call it on the session they
  * are given.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        GraftExtensions.info(name, cls), builder))
    }
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => RewriteRankFilterToTopK)
  }
}

object GraftExtensions {

  /** Worker threads of the sessions graft's mains build:
    * `SPARK_GRAFT_CPUS`, 4 when unset. */
  val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  private def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** The local session graft's mains and tests run on: `cores` worker
    * threads and as many shuffle partitions, graft's extensions, UTC,
    * no UI, nanosecond parquet timestamps read as longs (see
    * `Tables.load`), log level WARN. `conf` entries are set after these
    * and override them. Returns the running session if there is one
    * (`getOrCreate`). */
  def session(cores: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Gives `s` what [[GraftExtensions]] injects at build time, once:
    * a function is registered only where its name is missing, so none
    * is replaced, and the strategy and the rule join the session's
    * `experimental` lists only where its planner and optimizer lack
    * them. On a session built with the extensions it changes nothing.
    * Safe to call from several threads and any number of times. */
  def install(s: SparkSession): Unit = {
    val exp = GraftSqlShims.experimental(s)
    exp.synchronized {
      val registry = s.sessionState.functionRegistry
      GraftFunctions.functions.foreach { case (name, cls, builder) =>
        val id = FunctionIdentifier(name)
        if (!registry.functionExists(id))
          registry.registerFunction(id, info(name, cls), builder)
      }
      if (!s.sessionState.planner.strategies.contains(TopKStrategy))
        exp.extraStrategies = exp.extraStrategies :+ TopKStrategy
      if (!exp.extraOptimizations.contains(RewriteRankFilterToTopK) &&
          !s.sessionState.optimizer.extendedOperatorOptimizationRules
            .contains(RewriteRankFilterToTopK))
        exp.extraOptimizations = exp.extraOptimizations :+ RewriteRankFilterToTopK
    }
  }
}
