package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression, RowNumber, SortOrder, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.IntegerType

/** Logical per-key top-k: keep the first `k` rows of each key group
  * under `order`. Output schema = child schema (no rank column).
  *
  * This is the whole-operator extension path of SURVEY.md §7: a custom
  * `LogicalPlan` planned by [[TopKStrategy]] into a partial/final
  * [[TopKPerKeyExec]] pair, reachable two ways — the
  * [[TopK.topKPerKey]] DSL, or the [[RewriteRankFilterToTopK]]
  * optimizer rule (rewrites the `row_number() <= k` idiom, reference
  * R:238/R:531 arrange-then-head shape). [[graft.GraftExtensions]]
  * gives a session both the strategy and the rule, at build time or
  * through `install`, so the rule applies from the session's first
  * query.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"top-k needs k >= 1, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] as partial heaps → (exchange) → final merge;
  * EnsureRequirements inserts the hash exchange because only the final
  * stage declares a clustered distribution. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      val part = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, part) :: Nil
    case _ => Nil
  }
}

/** Rewrites the window-rank-filter idiom
  * `Project(Filter(rn <= k, Window(row_number() over (partition by K order by O))))`
  * into [[TopKPerKey]] when the rank column itself is discarded by the
  * projection — the only case where the rewrite is semantics-preserving
  * without re-deriving ranks.
  *
  * Spark's own `InferWindowGroupLimit` (SPARK-37099, public) only
  * inserts a pre-filter below the Window; the Sort+Window pair still
  * runs over the shuffled survivors. This rule removes the pair
  * entirely and shuffles ≤ k·partitions rows per key.
  *
  * Tie behavior: `row_number()` over a NON-unique ordering is
  * nondeterministic by SQL semantics — which peer gets rank k is an
  * implementation accident — and the heap-based exec may keep a
  * different k-subset of tied rows than the Window formulation
  * happened to. Both answers are equally valid, but enabling the rule
  * can change previously-observed outputs for such queries; append a
  * unique tie-break column to the ORDER BY (as every gated query here
  * does) to make the result unique and the rewrite exact.
  */
object RewriteRankFilterToTopK extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rank) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rank) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rank) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rank) => Some(v - 1)
    case EqualTo(a: Attribute, Literal(1, IntegerType)) if a.semanticEquals(rank) => Some(1)
    case EqualTo(Literal(1, IntegerType), a: Attribute) if a.semanticEquals(rank) => Some(1)
    case _ => None
  }

  /** InferWindowGroupLimit may already have slid a WindowGroupLimit
    * under the Window; our exec subsumes it, so plan from its child. */
  private def stripGroupLimit(plan: LogicalPlan): LogicalPlan = plan match {
    case WindowGroupLimit(_, _, _, _, inner) => inner
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond, Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          partSpec, ordSpec, windowChild, _))) if ordSpec.nonEmpty =>
      val rank = alias.toAttribute
      val child = stripGroupLimit(windowChild)
      limitOf(cond, rank) match {
        case Some(k) if k >= 1 &&
            projectList.forall(ne => !ne.references.contains(rank)) &&
            projectList.forall(_.references.subsetOf(child.outputSet)) =>
          Project(projectList, TopKPerKey(partSpec, ordSpec, k, child))
        case _ => p
      }
  }
}

/** DSL + oracle-gated query for the custom operator. */
object TopK {

  /** Keep the best `k` rows per `keys` group under `order` (best =
    * first in sort order; pass a unique tie-break column for
    * determinism). Scale note: pre-`select` the columns you need —
    * the node's output is its child's full schema. The frame's session
    * gets graft's extensions first ([[graft.GraftExtensions.install]]):
    * the node plans only through [[TopKStrategy]]. */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val sortOrder = order.map(GraftSqlShims.expression).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    GraftSqlShims.ofRows(spark,
      TopKPerKey(keys.map(GraftSqlShims.expression), sortOrder, k,
        df.queryExecution.analyzed))
  }

  /** o4 — top-3 orders by price per priority class, via the custom
    * operator (reference R:238 arrange + R:142 head, per group). */
  def o4TopKPerKey(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(s, dir)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    topKPerKey(orders,
      Seq(col("o_orderpriority")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
  }

  /** s19 — latest-row-per-key compaction, the CDC "keep the newest
    * version" pass every upsert log needs before serving: one row per
    * user, the most recent event (ts desc, event_id desc tie-break),
    * through the same custom operator at k=1. This is the
    * high-cardinality regime the heap-capped partial exec exists for:
    * ≤1 row per (key, input partition) crosses the exchange, where a
    * window row_number would sort whole partitions; at 100 TB the
    * keys are primary keys and the reduction below the shuffle is the
    * entire game. */
  def s19LatestByKey(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"),
        col("value"))
    topKPerKey(ev,
      Seq(col("user_id")),
      Seq(col("ts_us").desc, col("event_id").desc), 1)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "o4_topk_per_key" -> o4TopKPerKey,
    "s19_latest_by_key" -> s19LatestByKey)

  val oracle: Map[String, String] = Map(
    "o4_topk_per_key" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM
         (SELECT o_orderpriority, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
         WHERE rn <= 3""",
    "s19_latest_by_key" ->
      """SELECT user_id, event_id, ts_us, event_type, value FROM
         (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
            value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          FROM events)
         WHERE rn = 1""")
}
