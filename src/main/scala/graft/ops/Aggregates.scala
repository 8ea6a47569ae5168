package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.Tables

/** Aggregation operators (SURVEY.md §2.4, plus the S6 console-profiling
  * sink of §2.1 which is statistically the same surface).
  *
  * Every aggregate here is a single hash aggregate: Spark plans
  * partial (map-side) + final aggregation automatically, so the
  * shuffle moves only one row per (partition × group), not raw data —
  * the property that makes these viable at 100 TB. The exception is a
  * sketch beside an exact distinct count (g13/g18 and their twins):
  * that count runs as its own aggregate, see [[exactDistinctBeside]].
  * None of them need a custom UDAF (SURVEY §2.4: every reference
  * aggregate is a composition of built-ins).
  */
object Aggregates {

  /** G1 — group-by + sum, the flagship query (R:264–269, R:297–298).
    * TPC-H Q1 shape: 4 groups out of 60k rows → partial agg collapses
    * virtually all data map-side. Money sums accumulate in decimal
    * (Det.dsum2) so the result is independent of partition/merge
    * order — at 1000 executors a double sum is not reproducible, and
    * a ULP difference can cross a rounding boundary. */
  def g1AggSum(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Det.dsum2(col("l_quantity")).as("sum_qty"),
        Det.dsum2(col("l_extendedprice")).as("sum_base_price"),
        sum(Det.d2(col("l_extendedprice"))
            * (lit(1) - Det.d2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        Det.r4(Det.dsum2(col("l_quantity")) / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** G2 — group-by + count (R:350–351, R:165–166). */
  def g2GroupCount(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).groupBy("o_orderpriority").count()

  /** G3 — frequency-of-frequencies (R:164–167: `count(단지코드) %>%
    * count(n)` — histogram of per-key row counts). Two chained hash
    * aggs; the second input is already tiny. */
  def g3CountOfCounts(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
      .groupBy("n_lines").agg(count(lit(1)).as("n_orders"))

  /** G4 — per-group distinct-non-NA count over ALL columns, then the
    * per-column total (R:174–187 — the "which columns are complex-level"
    * discovery). Column list is driver-side schema metadata; the result
    * is ONE row. countDistinct ignores NULLs, matching R's
    * `na.omit(unique(.))`. */
  def g4DistinctCounts(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
    val cols = df.columns.filter(_ != "o_custkey").sorted
    val perGroup = df.groupBy("o_custkey")
      .agg(countDistinct(col(cols.head)).as(cols.head),
        cols.tail.map(c => countDistinct(col(c)).as(c)).toSeq: _*)
    perGroup.agg(sum(col(cols.head)).as(cols.head),
      cols.tail.map(c => sum(col(c)).as(c)).toSeq: _*)
  }

  /** G5 — multi-column distinct / dedup (R:165, R:196: `distinct()`). */
  def g5Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus").distinct()

  /** G6 — contingency table over category columns (R:232–238:
    * `table()` → Freq>0 → arrange ≡ plain groupBy-count: the dense cube
    * with empty combos filtered is exactly the observed-combo groupBy). */
  def g6Contingency(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") > 0)

  /** G7 — per-column value counts, long format (R:228–230:
    * `map(table)` over char cols). Driver-side loop over the column
    * list, one groupBy each, unioned. */
  def g7ValueCounts(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
    Seq("o_orderstatus", "o_orderpriority").map { c =>
      df.groupBy(col(c).as("value")).agg(count(lit(1)).as("freq"))
        .select(lit(c).as("column_name"), col("value"), col("freq"))
    }.reduce(_.unionByName(_))
  }

  /** G8/S6 — descriptive statistics per numeric column, long format
    * (R:106–111 `summary`, R:398–414 `skim`/`diagnose`). One wide agg
    * computing 6 stats × k columns in a single pass, reshaped
    * driver-side into (column, stat) rows — NOT one job per column. */
  def g8Describe(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(s, dir)
    val cols = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).sorted
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).cast("double").as(s"${c}__cnt"),
        Det.r4(avg(col(c))).as(s"${c}__mean"),
        Det.r4(stddev_samp(col(c))).as(s"${c}__std"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        sum(when(col(c).isNull, 1).otherwise(0)).cast("double")
          .as(s"${c}__nulls"))
    }
    val wide = df.agg(aggs.head, aggs.tail.toSeq: _*)
    val stats = Seq("cnt", "mean", "std", "min", "max", "nulls")
    val longRows = cols.flatMap(c => stats.map(st =>
      struct(lit(c).as("column_name"), lit(st).as("stat"),
        col(s"${c}__$st").as("value"))))
    wide.select(explode(array(longRows.toSeq: _*)).as("r"))
      .select("r.column_name", "r.stat", "r.value")
  }

  /** G9 — grouped weighted mean with all-NULL-group fallback
    * (R:922–940: per-complex rent weighted by households; a group with
    * no valid rent yields NULL, later median-imputed by C6). The R
    * `group_split` + `map_df` interpreted loop collapses to ONE hash
    * aggregate — the biggest algorithmic win of the rewrite (SURVEY §3.2). */
  def g9WeightedMean(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .withColumn("price_or_null",
        when(col("l_quantity") >= 48.0, lit(null).cast("double"))
          .otherwise(col("l_extendedprice")))
    li.groupBy("l_suppkey")
      .agg(
        Det.r2(sum(when(col("price_or_null").isNotNull,
            Det.d2(col("price_or_null")) * Det.d2(col("l_quantity"))))
            .cast("double")
          / sum(when(col("price_or_null").isNotNull,
            Det.d2(col("l_quantity")))).cast("double"))
          .as("weighted_price"),
        count(lit(1)).as("n_lines"))
  }

  /** The g10 correlation surface: every numeric lineitem column —
    * the full-width analog of the reference's ~15×15 `cor()` matrix
    * over all numeric features (R:386–392). */
  private[ops] val corrVars = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private[ops] val corrPairs = for {
    i <- corrVars.indices; j <- corrVars.indices if i < j
  } yield (corrVars(i), corrVars(j))

  /** G10 — the FULL pairwise Pearson correlation matrix (R:386–392:
    * `cor(use='pairwise.complete.obs')` over label + all numeric
    * columns) WITH the cor.test statistic (R:739):
    * t = r·√((n−2)/(1−r²)), the exact transform R's cor.test applies;
    * its p-value is 2·P(T_{n−2} > |t|) — the CDF isn't ANSI-SQL, so
    * the statistic is the emitted (and oracle-checked) surface. Long
    * format (var_a, var_b, n_pair, corr, t) — all k(k−1)/2 = 28 pairs
    * computed in ONE aggregate pass (corr is algebraic, so the 56
    * aggregate expressions share a single scan + partial agg), not a
    * job per pair. n_pair is the per-pair complete-observation count,
    * the df that pairwise.complete.obs semantics demand should either
    * column carry NULLs (on the all-non-null columns it equals
    * count(*)). */
  def g10Corr(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(s, dir)
    val aggs = corrPairs.flatMap { case (a, b) =>
      Seq(corr(col(a), col(b)).as(s"${a}__$b"),
        count(when(col(a).isNotNull && col(b).isNotNull, 1))
          .as(s"n__${a}__$b"))
    }
    val wide = df.agg(aggs.head, aggs.tail.toSeq: _*)
    val longRows = corrPairs.map { case (a, b) =>
      val r = col(s"${a}__$b")
      val n = col(s"n__${a}__$b")
      struct(lit(a).as("var_a"), lit(b).as("var_b"),
        n.as("n_pair"),
        Det.r6(r).as("pearson_r"),
        Det.r6(r * sqrt((n.cast("double") - lit(2.0))
          / (lit(1.0) - r * r))).as("t_stat"))
    }
    wide.select(explode(array(longRows: _*)).as("r"))
      .select("r.var_a", "r.var_b", "r.n_pair", "r.pearson_r", "r.t_stat")
  }

  /** G10b — the full cor.test surface (R:739): Pearson r, t statistic
    * AND two-sided p-value. The p needs the Student-t CDF — a special
    * function neither engine has built in, so it runs as the native
    * codegen'd `t_test_p` expression over graft.ml.Stats
    * ([[graft.functions.TTestPValue]] — the kernel stays in Stats,
    * only the plumbing is Catalyst; no UDF bridge remains anywhere in
    * src/main). The query is rows-only-gated with StatsSpec pinning
    * the CDF against closed forms. Plan cost over g10: one extra
    * codegen'd projection on 28 rows. */
  def g10bCorrTest(s: SparkSession, dir: String): DataFrame = {
    // df comes from g10's per-pair complete-observation count, so the
    // p-value's degrees of freedom always agree with the t it is
    // paired with (a global count(*) would disagree under NULLs).
    g10Corr(s, dir)
      .withColumn("p_value",
        expr("t_test_p(t_stat, cast(n_pair AS double) - 2.0)"))
      .select("var_a", "var_b", "pearson_r", "t_stat", "p_value")
  }

  /** G10c — the cor.test P-VALUE ORACLE GATE (closing g10b's
    * rows-only gap the m2b way): at df = 2 the Student-t CDF is
    * ALGEBRAIC — t²/(t²+2) = r² under t = r·√(df/(1−r²)), so the
    * two-sided p = 1 − |t|/√(t²+2) needs only sqrt/abs/division,
    * all IEEE-identical across engines. A planted 4-row design
    * (region keys 0–3, y = key² mod 5 — exact integers, constant at
    * every SF) gives df = 2 exactly; the Spark side computes p
    * through the REAL `t_test_p` kernel (graft.ml.Stats' incomplete
    * beta — the same expression g10b ships) applied to the
    * 1e−6-rounded t, and the oracle restates the algebraic identity
    * FROM THAT SAME ROUNDED t — so the kernel's value is hash-gated
    * against a closed-form truth, positive and negative tails both
    * (the 'neg' fixture flips y's sign). g10b's 28-pair surface
    * stays rows-only; this value-gates its p plumbing. */
  def g10cCorrTestGate(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.region(s, dir)
      .filter(col("r_regionkey") < 4)
      .select(col("r_regionkey").cast("double").as("x"),
        ((col("r_regionkey") * col("r_regionkey")) % 5)
          .cast("double").as("y"))
    val m = b.agg(count(lit(1)).cast("double").as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val n = col("n")
    val r = (n * col("sxy") - col("sx") * col("sy")) /
      sqrt((n * col("sxx") - col("sx") * col("sx")) *
        (n * col("syy") - col("sy") * col("sy")))
    val t = r * sqrt((n - lit(2.0)) / (lit(1.0) - r * r))
    def row(tag: String, sign: Double) =
      struct(lit(tag).as("fixture"), n.cast("bigint").as("n_pair"),
        Det.r6(r * sign).as("pearson_r"),
        Det.r6(t * sign).as("t_stat"))
    m.select(explode(array(row("pos", 1.0), row("neg", -1.0))).as("k"))
      .select(col("k.fixture").as("fixture"), col("k.n_pair").as("n_pair"),
        col("k.pearson_r").as("pearson_r"), col("k.t_stat").as("t_stat"))
      .withColumn("p_value", Det.r6(
        expr("t_test_p(t_stat, cast(n_pair AS double) - 2.0)")))
  }

  /** M9 — variance inflation factors (R:527–531 `vif(model)`,
    * R:613–614): VIF_j = 1/(1−R²_j) of the auxiliary regression of
    * feature j on the remaining features. For the 3-feature surface
    * the auxiliary R² has the closed pairwise form
    * R²_x = (r_xy² + r_xz² − 2·r_xy·r_xz·r_yz)/(1 − r_yz²), so the
    * whole diagnostic is ONE corr-aggregate pass — no refits, no
    * shuffle beyond the aggregate, and the identical formula text runs
    * in DuckDB (oracle-gated). The general-k path (aux OLS refits on
    * ml machinery) is `MlDiagnostics.vifOls`, spec-pinned to agree
    * with this closed form. */
  def m9Vif(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(s, dir)
    val wide = df.agg(
      corr(col("l_quantity"), col("l_extendedprice")).as("r_qe"),
      corr(col("l_quantity"), col("l_discount")).as("r_qd"),
      corr(col("l_extendedprice"), col("l_discount")).as("r_ed"))
    def vif(rxy: Column, rxz: Column, ryz: Column): Column =
      lit(1.0) / (lit(1.0) -
        (rxy * rxy + rxz * rxz - lit(2.0) * rxy * rxz * ryz)
          / (lit(1.0) - ryz * ryz))
    val rows = Seq(
      ("l_quantity", vif(col("r_qe"), col("r_qd"), col("r_ed"))),
      ("l_extendedprice", vif(col("r_qe"), col("r_ed"), col("r_qd"))),
      ("l_discount", vif(col("r_qd"), col("r_ed"), col("r_qe"))))
    val longRows = rows.map { case (f, v) =>
      struct(lit(f).as("feature"), Det.r6(v).as("vif"))
    }
    wide.select(explode(array(longRows: _*)).as("r"))
      .select("r.feature", "r.vif")
  }

  /** M9 — Breusch–Pagan heteroskedasticity statistic (R:613–614
    * `bptest`): BP = n·R²_aux of the regression of squared residuals
    * on the regressors. For the simple-regression surface
    * (l_extendedprice ~ l_quantity) both stages are closed-form in
    * aggregates: b = cov/var, e = y − a − bx, R²_aux = corr(e², x)² —
    * two aggregate passes, a 1-row broadcast join between them,
    * DuckDB-oracled with the identical formula. The general-k path is
    * `MlDiagnostics.breuschPaganOls`. Under H₀ BP ~ χ²(k). */
  def m9BreuschPagan(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_extendedprice").as("y"), col("l_quantity").as("x"))
    val fit = li.agg(
      (covar_pop(col("y"), col("x")) / var_pop(col("x"))).as("b"),
      avg("y").as("my"), avg("x").as("mx"))
    val e2 = li.crossJoin(broadcast(fit))
      .select(col("x"),
        ((col("y") - (col("my") - col("b") * col("mx"))
          - col("b") * col("x"))
          * (col("y") - (col("my") - col("b") * col("mx"))
            - col("b") * col("x"))).as("e2"))
    e2.agg((count(lit(1)).cast("double")
        * (corr(col("e2"), col("x")) * corr(col("e2"), col("x"))))
        .as("bp"))
      .select(Det.r4(col("bp")).as("bp"))
  }

  /** G11 — global exact quantiles (R:942–943 `median`). Exact
    * interpolating `percentile` for oracle parity; `approx_percentile`
    * is the constant-memory 100 TB variant. */
  def g11Median(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      Det.r2(expr("percentile(o_totalprice, 0.25)")).as("p25"),
      Det.r2(expr("percentile(o_totalprice, 0.5)")).as("p50"),
      Det.r2(expr("percentile(o_totalprice, 0.75)")).as("p75"))

  /** S5/G8 — fixed-bin histogram: the statistic behind the plot sink
    * (R:363–381, one histogram per numeric column). Fixed 50k-wide
    * bins clamped to [0, 11], expressed as plain floor arithmetic
    * (identical in DuckDB — its 1.0 release lacks width_bucket);
    * pinned bins keep the schema data-independent (same rationale as
    * V1's pinned pivot values). */
  def g12Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("bucket",
        least(floor(col("o_totalprice") / 50000.0), lit(11L))
          .cast("bigint"))
      .groupBy("bucket").agg(count(lit(1)).as("n_orders"))

  /** M9 (partial) — per-series Durbin–Watson statistic:
    * DW = Σ(eₜ−eₜ₋₁)² / Σeₜ² per series, the one reference diagnostic
    * that IS window-expressible (SURVEY §2.9). Series key =
    * event_type; residuals are mean-centered within the series and
    * ordered by event_id. `Window.partitionBy(series)` keeps every
    * exchange keyed — a global `Window.orderBy` would funnel the whole
    * table through ONE task, the round-1 scale-killer. The per-series
    * means arrive via a broadcast self-join (k rows), not a collect. */
  def m9DurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val means = Tables.events(s, dir)
      .groupBy("event_type").agg(avg("value").as("mu"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("event_id")
    Tables.events(s, dir)
      .join(broadcast(means), "event_type")
      .select(col("event_type"), col("event_id"),
        (col("value") - col("mu")).as("e"))
      .withColumn("e_prev", lag("e", 1).over(w))
      .groupBy("event_type")
      .agg((sum(when(col("e_prev").isNotNull,
        (col("e") - col("e_prev")) * (col("e") - col("e_prev"))))
        / sum(col("e") * col("e"))).as("dw"))
      .select(col("event_type"), Det.r6(col("dw")).as("dw"))
  }

  /** M9 — Jarque–Bera normality statistic from raw central moments
    * (R:600–601: `jarque.bera.test`): JB = n/6·(S² + (K−3)²/4) with
    * S = m₃/m₂^{3/2}, K = m₄/m₂². Built-in skewness/kurtosis differ
    * between engines (sample-corrected vs population), so the moments
    * are computed explicitly and identically on both sides. */
  def m9JarqueBera(s: SparkSession, dir: String): DataFrame = {
    val mu = Tables.orders(s, dir).agg(avg("o_totalprice"))
      .head().getDouble(0)
    val d = col("o_totalprice") - mu
    Tables.orders(s, dir)
      .agg(count(lit(1)).cast("double").as("n"),
        avg(d * d).as("m2"), avg(d * d * d).as("m3"),
        avg(d * d * d * d).as("m4"))
      .select(Det.r4((col("n") / 6.0) *
        ((col("m3") / sqrt(col("m2") * col("m2") * col("m2")))
          * (col("m3") / sqrt(col("m2") * col("m2") * col("m2")))
          + ((col("m4") / (col("m2") * col("m2"))) - 3.0)
          * ((col("m4") / (col("m2") * col("m2"))) - 3.0) / 4.0))
        .as("jb"))
  }

  /** M9 — chi-square test of independence over the g6 contingency
    * shape (R:232–238 `table()` feeds R's `chisq.test`): observed
    * cell counts vs the independence expectation e = rowTot·colTot/n,
    * X² = Σ (o−e)²/e over the DENSE category grid (a zero-observed
    * cell still contributes e — the groupBy alone can't produce it,
    * so the margins cross-join rebuilds the grid and the left join
    * fills o=0), df = (nrows−1)·(ncols−1).
    *
    * Scale shape: one hash agg over the fact table collapses 100 TB
    * to one row per observed category pair; everything after —
    * margins, the nr×nc grid, the X² fold — is arithmetic on that
    * tiny summary (category counts, not data volume), and the margin
    * "joins" are broadcasts of single-digit-row inputs. The upper-tail
    * p-value needs the incomplete gamma, which neither engine's SQL
    * has — the statistic + df are hash-gated here, and the codegen'd
    * `chi2_p` kernel (StatKernels.scala, Stats.chiSquareUpperP) is
    * pinned by StatsSpec against the integer-df closed forms. */
  def m9ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.orders(s, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).cast("double").as("o"))
    val rowTot = obs.groupBy("o_orderstatus").agg(sum("o").as("rt"))
    val colTot = obs.groupBy("o_orderpriority").agg(sum("o").as("ct"))
    val n = obs.agg(sum("o").as("n"))
    val cells = rowTot.crossJoin(colTot).crossJoin(n)
      .join(obs, Seq("o_orderstatus", "o_orderpriority"), "left")
      .select(coalesce(col("o"), lit(0.0)).as("o"),
        (col("rt") * col("ct") / col("n")).as("e"))
    val stat = cells.agg(
      Det.r4(sum((col("o") - col("e")) * (col("o") - col("e"))
        / col("e"))).as("chi2"))
    val dof = obs.agg(
      ((countDistinct("o_orderstatus") - 1)
        * (countDistinct("o_orderpriority") - 1)).as("df"))
    stat.crossJoin(dof)
  }

  /** M9 — two-sample Welch t statistic from group aggregates
    * (R:759–772 `t.test`): t = (m₁−m₂)/√(v₁/n₁ + v₂/n₂) comparing
    * order totals between 'F' and 'O' status groups. */
  def m9TTest(s: SparkSession, dir: String): DataFrame = {
    def grp(status: String) = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === status)
      .agg(avg("o_totalprice").as(s"m_$status"),
        var_samp("o_totalprice").as(s"v_$status"),
        count(lit(1)).cast("double").as(s"n_$status"))
    grp("F").crossJoin(grp("O"))
      .select(Det.r6((col("m_F") - col("m_O"))
        / sqrt(col("v_F") / col("n_F") + col("v_O") / col("n_O")))
        .as("t_stat"))
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** M9 — one-way ANOVA F statistic (R:768–772: `lm(등록차량수 ~ 지역)
    * %>% anova()`, the 3+-category mean-difference test): F =
    * (SSB/(k−1)) / (SSW/(n−k)) of `value` across event types. ONE
    * aggregate pass with per-type conditional sums PIVOTED over the
    * pinned type list (v1's pinned-value pattern: data-independent
    * schema, no distinct scan), so the cross-group combination is a
    * FIXED-ORDER arithmetic expression — summing shuffled group rows
    * would be accumulation-order-dependent (the q1 round-1 failure
    * mode). Per-type sums accumulate in exact decimal (value is
    * cents-exact; squares are 4-dp-exact), so every input to the F
    * formula is bit-reproducible in DuckDB. Scan-shaped: partial+
    * final hash agg, no extra shuffle. */
  def m9Anova(s: SparkSession, dir: String): DataFrame = {
    val aggs = eventTypes.flatMap { t =>
      val d = when(col("event_type") === t, Det.d2(col("value")))
      Seq(count(when(col("event_type") === t, 1))
          .cast("double").as(s"n_$t"),
        sum(d).cast("double").as(s"s_$t"),
        sum(when(col("event_type") === t,
          Det.d2(col("value")) * Det.d2(col("value"))))
          .cast("double").as(s"q_$t"))
    }
    val w = Tables.events(s, dir).agg(aggs.head, aggs.tail: _*)
    def nc(t: String) = col(s"n_$t")
    def mc(t: String) = col(s"s_$t") / col(s"n_$t")
    val n = eventTypes.map(nc).reduce(_ + _)
    val grand = eventTypes.map(t => col(s"s_$t")).reduce(_ + _) / n
    val ssb = eventTypes
      .map(t => nc(t) * (mc(t) - grand) * (mc(t) - grand))
      .reduce(_ + _)
    val ssw = eventTypes
      .map(t => col(s"q_$t") - nc(t) * mc(t) * mc(t))
      .reduce(_ + _)
    val k = lit(eventTypes.size.toDouble)
    w.select(n.cast("bigint").as("n"),
      lit(eventTypes.size).as("k"),
      Det.r4((ssb / (k - 1.0)) / (ssw / (n - k))).as("f_stat"))
  }

  private val qqPs = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
  // N(0,1) inverse CDF at the deciles — constants, identical literals
  // on both engines (the normal quantile function is not ANSI SQL).
  private val qqZs = Seq(-1.2815515655446004, -0.8416212335729143,
    -0.5244005127080407, -0.2533471031357997, 0.0,
    0.2533471031357997, 0.5244005127080407, 0.8416212335729143,
    1.2815515655446004)

  /** M9 — Q-Q plot data (R:597, R:646, R:1104 `qqnorm`): sample
    * deciles of `value` standardized by the exact-decimal mean and
    * deterministic sample sd, paired with the theoretical N(0,1)
    * decile quantiles. Standardizing the deciles equals the deciles
    * of the standardized values (affine monotone map) without a
    * second pass. One exact-percentile aggregate (approx_percentile
    * is the 100 TB sketch path, g13). */
  def m9Qq(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(s, dir).agg(
      count(lit(1)).cast("double").as("n"),
      Det.dsum2(col("value")).as("sy"),
      sum(Det.d2(col("value")) * Det.d2(col("value")))
        .cast("double").as("qy"),
      expr(s"percentile(value, array(${qqPs.mkString(", ")}))").as("qs"))
    val mean = col("sy") / col("n")
    val sd = sqrt((col("qy") - col("sy") * col("sy") / col("n"))
      / (col("n") - 1.0))
    val pArr = array(qqPs.map(lit): _*)
    val zArr = array(qqZs.map(lit): _*)
    agg.select(col("n"), col("sy"), col("qy"),
        posexplode(col("qs")).as(Seq("i", "q")))
      .select(element_at(pArr, col("i") + 1).as("p"),
        Det.r4((col("q") - mean) / sd).as("sample_q"),
        element_at(zArr, col("i") + 1).as("theoretical_q"))
  }

  /** G14 — hierarchical rollup totals: the (status, priority) lattice
    * with subtotals and a grand total in ONE pass (`rollup` expands to
    * grouping sets inside a single Expand + hash aggregate — no
    * N-query union). Sums accumulate in exact decimal (order-free);
    * `grouping_id` disambiguates levels with the same bit convention
    * both engines use (first listed column = MSB). */
  def g14Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum2(col("o_totalprice")).as("sum_total"),
        grouping_id().cast("bigint").as("level"))

  /** G15 — full cube over (status, priority): all four grouping sets
    * (detail, each one-way margin, grand total) in the same
    * single-pass Expand + hash-aggregate shape as g14's rollup. */
  def g15Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum2(col("o_totalprice")).as("sum_total"),
        grouping_id().cast("bigint").as("level"))

  /** W1 — per-key running window analytics (the reference's
    * grouped-mutate shape, R:417–429 `group_by %>% mutate`): per
    * customer, order sequence number, running revenue total, and a
    * 3-order trailing mean, all over ONE window sort (a single
    * shuffle on o_custkey; frames differ, sort is shared). Running
    * decimal sums are exact at every prefix, and the frame order
    * (date, orderkey) is a total order — so every row is
    * deterministic despite being a running (not global) aggregate.
    * The trailing mean divides explicit sum/count (decimal `avg`
    * result types differ between engines). */
  def w1RunningWindow(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val run = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val last3 = w.rowsBetween(-2, 0)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        row_number().over(w).as("order_seq"),
        sum(Det.d2(col("o_totalprice"))).over(run)
          .cast("double").as("running_total"),
        Det.r4(sum(Det.d2(col("o_totalprice"))).over(last3)
            .cast("double")
          / count(lit(1)).over(last3).cast("double")).as("trailing_avg3"))
  }

  /** W2 — the analytic window family in ONE pass: lag/lead offsets,
    * rank/dense_rank, ntile quartiles and the distribution functions
    * (percent_rank, cume_dist) all share a single window spec, so the
    * plan is one exchange on the partition key + one sort + ONE
    * Window operator evaluating all seven functions — the shape that
    * matters at scale (N analytic columns must not mean N sorts).
    * Deterministic because the order key ends in unique o_orderkey. */
  def w2WindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("dense_rnk"),
        ntile(4).over(w).as("quartile"),
        Det.r6(percent_rank().over(w)).as("pct_rank"),
        Det.r6(cume_dist().over(w)).as("cume"))
  }

  /** W2b — the SAME analytic family as w2, partitioned on a
    * HIGH-CARDINALITY key (o_custkey, ~n/10 groups) — the 100×-honest
    * exemplar: w2's 5-value priority key means five window groups
    * total, so at scale five tasks sort everything (fine as a
    * semantics demo, dishonest as a scale demo). Here group count
    * grows with the data, so the one exchange + one per-group sort
    * parallelizes arbitrarily. Same single-Window plan shape: all
    * seven functions share one spec, one sort (plan-asserted in
    * OperatorSpec). */
  def w2bWindowHighCard(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("dense_rnk"),
        ntile(4).over(w).as("quartile"),
        Det.r6(percent_rank().over(w)).as("pct_rank"),
        Det.r6(cume_dist().over(w)).as("cume"))
  }

  /** W3 — RANGE-frame sliding window over event time: per customer,
    * the trailing-7-day order count and spend. A ROWS frame (w1)
    * counts a fixed number of rows; a RANGE frame covers every peer
    * within a VALUE distance of the current row — the correct
    * semantics for time windows over irregular events, and a
    * different physical evaluation (frame bounds move by value, and
    * same-day peers enter/leave together). Ordering key is the
    * integer day offset — numeric RANGE frames are the dialect
    * intersection (interval-literal frames are not), and integer
    * arithmetic sidesteps timestamp-comparison edge cases. One
    * shuffle on o_custkey, one sort — same cost shape as w1. */
  def w3RangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("day"))
      .rangeBetween(-6, 0)
    Tables.orders(s, dir)
      .withColumn("day",
        datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("bigint"))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        count(lit(1)).over(w).as("n_7d"),
        sum(Det.d2(col("o_totalprice"))).over(w)
          .cast("double").as("spend_7d"))
  }

  /** W4 — per-key resample + forward fill (gap-fill): irregular
    * per-user events become a DENSE hourly series, missing hours
    * carrying the last observed hourly mean — the time-series
    * regularization every sensor/metrics training pipeline runs
    * before sequence modeling (q6's month spine gap-fills a GLOBAL
    * aggregate; this is the per-KEY form with carry-forward instead
    * of zero-fill).
    *
    * Shape: one hash agg to hourly means, a generated hour spine
    * (O(calendar), data-size-independent) cross-joined with the
    * distinct-user dim, a left join back, then ONE window pass —
    * `last(v, ignoreNulls)` over a ROWS frame — to propagate values
    * across gaps. Partitioned by user_id (high-cardinality, the w2b
    * discipline), so the sort parallelizes with the user count; the
    * spine join is a broadcast (hours are O(1000) per year). Hours
    * before a user's first observation stay NULL in both engines —
    * carry-forward has nothing to carry. Epoch-micros output per the
    * events-family header. */
  def w4GapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
        col("value"))
    val obs = ev.groupBy("user_id", "hr")
      .agg(Det.r4(avg("value")).as("v"))
    val spine = ev.agg(min("hr").as("h0"), max("hr").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("hr")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    ev.select("user_id").distinct()
      .crossJoin(broadcast(spine))
      .join(obs, Seq("user_id", "hr"), "left")
      .select(col("user_id"), unix_micros(col("hr")).as("hr_us"),
        last(col("v"), ignoreNulls = true).over(w).as("value_filled"))
  }

  /** G16 — exact weighted median per group via the custom typed
    * Aggregator (graft.functions.WeightedMedian, SURVEY §2.10's
    * declared UDAF extension): revenue-weighted... here, the
    * quantity-weighted median extended price per return flag. The
    * oracle re-derives the same weighted LOWER median as window SQL
    * (RANGE-frame cumulative weight so tied values accumulate as
    * peers, then the minimum value crossing half the total). Weights
    * are integral doubles, so every cumulative sum is exact and
    * order-independent — no decimal accumulation needed. */
  def g16WeightedMedian(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(graft.functions.WeightedMedian.weightedMedian(
        col("l_extendedprice"), col("l_quantity")).as("w_median"))

  /** G17 — per-group exact quantiles: the grouped companion of G11
    * (R:942–943 computes medians per slice of the parking table; G11
    * covers the global form). The array form of `percentile` shares
    * ONE sort buffer per group across the three evaluation points —
    * three scalar percentile calls would buffer every group three
    * times. Exact percentile is the oracle surface;
    * `approx_percentile` (g13) is the mergeable constant-memory
    * variant the same query would use at 100 TB. */
  def g17GroupedQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))")
        .as("qs"))
      .select(col("o_orderpriority"),
        Det.r2(element_at(col("qs"), 1)).as("p25"),
        Det.r2(element_at(col("qs"), 2)).as("p50"),
        Det.r2(element_at(col("qs"), 3)).as("p75"))

  /** An exact distinct count of `key` per `by` group, computed in its
    * own aggregate beside `others`, joined back on the group columns;
    * columns come out as `by ++ exactName ++ others`.
    *
    * Why apart: Spark plans a query with exactly one DISTINCT aggregate
    * by grouping every OTHER aggregate by the distinct key first, so
    * each sketch or percentile buffer is allocated, shuffled and merged
    * once per (group, distinct key). Apart, the distinct count is a
    * plain dedup-then-count and each sketch buffer exists once per
    * group. The join is null-safe (`<=>`): `groupBy` keeps a null
    * group, which `===` would drop. With no group columns both sides
    * are one row and the join is a cross join. */
  def exactDistinctBeside(df: DataFrame, by: Seq[String], key: Column,
      exactName: String, others: Seq[Column]): DataFrame = {
    val keys = by.map(col)
    val exact = df.select(keys :+ key.as(exactName): _*).distinct()
      .groupBy(keys: _*).agg(count(col(exactName)).as(exactName)).as("e")
    val rest = df.groupBy(keys: _*).agg(others.head, others.tail: _*)
      .as("r")
    val joined =
      if (by.isEmpty) exact.crossJoin(rest)
      else exact.join(rest,
        by.map(c => col(s"e.$c") <=> col(s"r.$c")).reduce(_ && _))
    joined.select(col("e.*") +: rest.columns.filterNot(by.contains)
      .map(c => col(s"r.$c")): _*)
  }

  /** G13 — the 100 TB approximate path, surfaced explicitly: HLL++
    * distinct counts and GK-summary quantiles (Spark's
    * approx_percentile is Greenwald–Khanna, not t-digest) next to
    * their exact counterparts. Exact variants answer the oracle; the
    * sketches are what a cluster would run. The exact distinct count
    * is computed apart ([[exactDistinctBeside]]): in one aggregate
    * with it, Spark's single-distinct plan would group the sketches and
    * the exact percentile by `l_orderkey`, one HLL++ buffer, GK summary
    * and percentile map per order instead of one each. Rows-only —
    * approximation is engine-specific by nature; the spec asserts the
    * error envelope against exact, and [[g13bApproxExactGate]]
    * value-gates the same aggregate shape on planted bounded domains
    * where it is provably exact. */
  def g13ApproxStats(s: SparkSession, dir: String): DataFrame =
    exactDistinctBeside(Tables.lineitem(s, dir), Nil, col("l_orderkey"),
      "exact_orders", Seq(
        approx_count_distinct("l_orderkey", 0.02).as("approx_orders"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)")
          .as("approx_p50")))

  /** G18 — the grouped 100 TB twin of G17/G4: HLL++ distinct counts
    * and GK-summary quantiles PER GROUP. The sketches are
    * constant-memory and mergeable, so the shuffle carries one small
    * sketch per partition × group no matter how large the groups get —
    * which holds only with the exact distinct count apart
    * ([[exactDistinctBeside]]); in one aggregate with it, Spark would
    * keep every sketch per (priority, customer). Rows-only (sketch
    * results are engine-specific); the error envelope vs the exact
    * twins is asserted in BucketingSpec, and [[g18bGroupedApproxGate]]
    * value-gates the grouped sketch machinery on planted bounded
    * domains. */
  def g18GroupedApproxStats(s: SparkSession, dir: String): DataFrame =
    exactDistinctBeside(Tables.orders(s, dir), Seq("o_orderpriority"),
      col("o_custkey"), "exact_custs", Seq(
        approx_count_distinct("o_custkey", 0.02).as("approx_custs"),
        expr("percentile(o_totalprice, 0.5)").as("exact_p50"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)")
          .as("approx_p50")))

  /** G13B — the APPROX-STATS ORACLE GATE (the x18b/x19b/x27b
    * bounded-exactness pattern, applied to Spark's built-in HLL++
    * and GK-percentile aggregates, closing g13's untwinned
    * `no_oracle` row — VERDICT r9 §1a): run g13's aggregate shape
    * (the exact distinct count apart, the sketches and exact
    * percentiles in one aggregate beside it) over PLANTED domains
    * where the approximation provably collapses to the exact answer
    * at EVERY scale factor.
    *
    *  - Cardinality: `approx_count_distinct(k, 0.02)` over the FIXED
    *    key set k = int(l_quantity) ∈ {1..50}. HLL++ at rsd 0.02 has
    *    m = 4096 registers; 50 keys sit in the linear-counting regime
    *    (estimate = m·ln(m/V)), where the estimate equals n exactly
    *    iff the 50 fixed hashes land in 50 distinct registers and the
    *    round-off term n²/2m = 0.31 < 0.5 — both are properties of
    *    the FIXED key set, not the data (any realized subset of a
    *    collision-free set is collision-free), verified once and
    *    stable at every SF because HLL++'s hash has no seed.
    *  - Quantiles: `approx_percentile(v, p, 10000)` over a two-run
    *    domain v ∈ {10.0, 20.0} split ~50/50 at l_quantity ≤ 25. The
    *    GK summary's rank error is ≤ n/10000; the p25/p75 targets sit
    *    ~0.25·n ranks inside their runs, so the sketch CANNOT return
    *    anything but the run value — at any SF, since both the error
    *    and the run lengths scale linearly with n.
    *
    * Each approximate value rides next to its exact twin, so the
    * oracle compares Spark-approx == Spark-exact == DuckDB-exact in
    * one row. The open-domain g13 keeps its rows-only contract +
    * BucketingSpec envelope. */
  def g13bApproxExactGate(s: SparkSession, dir: String): DataFrame = {
    val k = col("l_quantity").cast("int")
    val v = when(col("l_quantity") <= 25, lit(10.0)).otherwise(lit(20.0))
    exactDistinctBeside(Tables.lineitem(s, dir), Nil, k, "exact_keys", Seq(
      approx_count_distinct(k, 0.02).as("approx_keys"),
      percentile_approx(v, lit(0.25), lit(10000)).as("approx_p25"),
      percentile_approx(v, lit(0.75), lit(10000)).as("approx_p75"),
      expr("percentile(CASE WHEN l_quantity <= 25 THEN 10.0D " +
        "ELSE 20.0D END, 0.25)").as("exact_p25"),
      expr("percentile(CASE WHEN l_quantity <= 25 THEN 10.0D " +
        "ELSE 20.0D END, 0.75)").as("exact_p75")))
  }

  /** G18B — the grouped twin of [[g13bApproxExactGate]], closing
    * g18's untwinned `no_oracle` row, in g18's aggregate shape:
    * per-priority HLL++ over the
    * fixed 23-residue key set (o_orderkey % 23 — every group's
    * realized set ⊆ the collision-free universe {0..22}) and grouped
    * GK percentiles over the two-run price domain split at the
    * 250 000 literal (≈ the generator's median; every priority group
    * splits 0.49–0.51 at any SF, leaving the p25/p75 targets ~0.25·n
    * ranks inside their runs vs an n/10000 error). Gates the GROUPED
    * sketch path specifically: per-group sketch allocation, map-side
    * partial merge, and the final per-group read-out. */
  def g18bGroupedApproxGate(s: SparkSession, dir: String): DataFrame = {
    val k = pmod(col("o_orderkey"), lit(23)).cast("int")
    val v = when(col("o_totalprice") < 250000.0, lit(10.0))
      .otherwise(lit(20.0))
    exactDistinctBeside(Tables.orders(s, dir), Seq("o_orderpriority"), k,
      "exact_keys", Seq(
        approx_count_distinct(k, 0.02).as("approx_keys"),
        percentile_approx(v, lit(0.25), lit(10000)).as("approx_p25"),
        percentile_approx(v, lit(0.75), lit(10000)).as("approx_p75"),
        expr("percentile(CASE WHEN o_totalprice < 250000.0D THEN 10.0D " +
          "ELSE 20.0D END, 0.25)").as("exact_p25"),
        expr("percentile(CASE WHEN o_totalprice < 250000.0D THEN 10.0D " +
          "ELSE 20.0D END, 0.75)").as("exact_p75")))
  }

  /** W5 — per-user EWMA over the event stream (the time-series
    * feature a behavioral model consumes): yₜ = (yₜ₋₁ + xₜ)/2, i.e.
    * α = ½ chosen deliberately — halving is EXACT in IEEE doubles, so
    * the whole recurrence is bit-identical across engines with no
    * quantization as long as both fold in the same order (pinned by
    * (ts, event_id)). A recurrence has no window-function form;
    * the shape is ONE shuffle (groupByKey on user) + an in-memory
    * sort-and-fold per user — per-group state is the group itself,
    * bounded by per-user event counts, the same regime as the e3
    * sessionizer. DuckDB replays the identical fold via
    * list_reduce over an ORDER BY-pinned list. */
  def w5Ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), col("value"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, Double, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        val xs = it.toSeq.sortBy(e => (e._3, e._4)).map(_._2)
        val ewma = xs.tail.foldLeft(xs.head)((acc, x) => (acc + x) / 2)
        (user, xs.length.toLong, ewma)
      }
      .toDF("user_id", "n_events", "ewma")
  }

  /** G19 — grouped winsorization (the feature-cleaning staple: cap a
    * heavy-tailed column at per-group order statistics before model
    * fitting). Thresholds are EXACT order statistics, not
    * interpolated percentiles: lo = the ⌈0.05·n⌉-th and hi = the
    * ⌈0.95·n⌉-th smallest value per group, rank deterministically
    * tie-broken by o_orderkey — the k-th ROW of a total order, so
    * both engines agree bit-for-bit and no percentile-interpolation
    * arithmetic enters. Shape: one per-group sort (the window that
    * computes row numbers — the price of exact order statistics;
    * rank-sketch g17/g18 are the approximate scale path), a 5-row
    * threshold table broadcast back, and one clamp+agg scan. Sums
    * accumulate as exact decimals (cents), so before/after mass is
    * order-independent. */
  def g19Winsorize(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
    val r = Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_totalprice"),
        col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
    val th = r
      .filter(col("rn") === ceil(lit(0.05) * col("n")) ||
        col("rn") === ceil(lit(0.95) * col("n")))
      .groupBy("o_orderpriority")
      .agg(
        min(when(col("rn") === ceil(lit(0.05) * col("n")),
          col("o_totalprice"))).as("lo"),
        min(when(col("rn") === ceil(lit(0.95) * col("n")),
          col("o_totalprice"))).as("hi"))
    r.join(broadcast(th), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        Det.dsum2(col("o_totalprice")).as("sum_raw"),
        Det.dsum2(greatest(least(col("o_totalprice"), col("hi")),
          col("lo"))).as("sum_capped"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w5_ewma" -> w5Ewma,
    "g19_winsorize" -> g19Winsorize,
    "g13_approx_stats" -> g13ApproxStats,
    "g13b_approx_exact_gate" -> g13bApproxExactGate,
    "g18_grouped_approx_stats" -> g18GroupedApproxStats,
    "g18b_grouped_approx_gate" -> g18bGroupedApproxGate,
    "g12_histogram" -> g12Histogram,
    "m9_durbin_watson" -> m9DurbinWatson,
    "m9_jarque_bera" -> m9JarqueBera,
    "m9_chi_square" -> m9ChiSquare,
    "m9_t_test" -> m9TTest,
    "m9_vif" -> m9Vif,
    "m9_breusch_pagan" -> m9BreuschPagan,
    "m9_anova" -> m9Anova,
    "m9_qq" -> m9Qq,
    "g14_rollup" -> g14Rollup,
    "g15_cube" -> g15Cube,
    "w1_running_window" -> w1RunningWindow,
    "w2_window_funcs" -> w2WindowFuncs,
    "w2b_window_highcard" -> w2bWindowHighCard,
    "w3_range_window" -> w3RangeWindow,
    "w4_gap_fill" -> w4GapFill,
    "g16_weighted_median" -> g16WeightedMedian,
    "g1_agg_sum" -> g1AggSum,
    "g2_group_count" -> g2GroupCount,
    "g3_count_of_counts" -> g3CountOfCounts,
    "g4_distinct_counts" -> g4DistinctCounts,
    "g5_distinct" -> g5Distinct,
    "g6_contingency" -> g6Contingency,
    "g7_value_counts" -> g7ValueCounts,
    "g8_describe" -> g8Describe,
    "g9_weighted_mean" -> g9WeightedMean,
    "g10_corr" -> g10Corr,
    "g10b_corr_test" -> g10bCorrTest,
    "g10c_corr_test_gate" -> g10cCorrTestGate,
    "g11_median" -> g11Median,
    "g17_grouped_quantiles" -> g17GroupedQuantiles)

  private val ordersCols =
    Seq("o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus",
      "o_totalprice")

  val oracle: Map[String, String] = Map(
    // bounded-exactness gates: Spark-approx == Spark-exact ==
    // DuckDB-exact by construction (see the g13b/g18b scaladoc)
    "g13b_approx_exact_gate" ->
      """SELECT
           cast(count(DISTINCT cast(l_quantity AS int)) AS bigint)
             AS exact_keys,
           cast(count(DISTINCT cast(l_quantity AS int)) AS bigint)
             AS approx_keys,
           10.0 AS approx_p25, 20.0 AS approx_p75,
           10.0 AS exact_p25, 20.0 AS exact_p75
         FROM lineitem""",
    "g18b_grouped_approx_gate" ->
      """SELECT o_orderpriority,
           cast(count(DISTINCT o_orderkey % 23) AS bigint) AS exact_keys,
           cast(count(DISTINCT o_orderkey % 23) AS bigint) AS approx_keys,
           10.0 AS approx_p25, 20.0 AS approx_p75,
           10.0 AS exact_p25, 20.0 AS exact_p75
         FROM orders GROUP BY 1""",
    "w5_ewma" ->
      """SELECT user_id,
           cast(count(*) AS bigint) AS n_events,
           list_reduce(list(value ORDER BY epoch_us(ts), event_id),
             (acc, x) -> (acc + x) / 2) AS ewma
         FROM events GROUP BY 1""",
    "g19_winsorize" ->
      s"""WITH r AS (SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM orders),
         th AS (SELECT o_orderpriority,
             min(CASE WHEN rn = ceil(0.05 * n) THEN o_totalprice END)
               AS lo,
             min(CASE WHEN rn = ceil(0.95 * n) THEN o_totalprice END)
               AS hi
           FROM r
           WHERE rn = ceil(0.05 * n) OR rn = ceil(0.95 * n)
           GROUP BY 1)
         SELECT r.o_orderpriority,
           cast(count(*) AS bigint) AS n_orders,
           min(lo) AS lo, min(hi) AS hi,
           ${Det.sqlDsum2("o_totalprice")} AS sum_raw,
           ${Det.sqlDsum2(
        "greatest(least(o_totalprice, hi), lo)")} AS sum_capped
         FROM r JOIN th USING (o_orderpriority) GROUP BY 1""",
    "g12_histogram" ->
      """SELECT cast(least(floor(o_totalprice / 50000.0), 11) AS bigint)
           AS bucket,
         count(*) AS n_orders
         FROM orders GROUP BY 1""",
    "m9_durbin_watson" ->
      s"""WITH m AS (SELECT event_type, avg(value) AS mu
                     FROM events GROUP BY 1),
         e AS (SELECT events.event_type, event_id, value - mu AS e
               FROM events JOIN m ON events.event_type = m.event_type),
         l AS (SELECT event_type, e,
                 lag(e) OVER (PARTITION BY event_type
                              ORDER BY event_id) AS e_prev FROM e)
         SELECT event_type, ${Det.sql(
        """sum(CASE WHEN e_prev IS NOT NULL
                    THEN (e - e_prev) * (e - e_prev) END)
               / sum(e * e)""", 6)} AS dw
         FROM l GROUP BY 1""",
    "m9_jarque_bera" ->
      s"""WITH m AS (SELECT avg(o_totalprice) AS mu FROM orders),
         s AS (SELECT cast(count(*) AS double) AS n,
           avg((o_totalprice - mu) * (o_totalprice - mu)) AS m2,
           avg((o_totalprice - mu) * (o_totalprice - mu)
               * (o_totalprice - mu)) AS m3,
           avg((o_totalprice - mu) * (o_totalprice - mu)
               * (o_totalprice - mu) * (o_totalprice - mu)) AS m4
           FROM orders, m)
         SELECT ${Det.sql(
        """(n / 6.0) *
           ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
            + ((m4 / (m2 * m2)) - 3.0) * ((m4 / (m2 * m2)) - 3.0)
              / 4.0)""", 4)} AS jb
         FROM s""",
    "m9_chi_square" ->
      s"""WITH obs AS (
           SELECT o_orderstatus AS st, o_orderpriority AS pr,
                  cast(count(*) AS double) AS o
           FROM orders GROUP BY 1, 2),
         rt AS (SELECT st, sum(o) AS rt FROM obs GROUP BY 1),
         ct AS (SELECT pr, sum(o) AS ct FROM obs GROUP BY 1),
         n AS (SELECT sum(o) AS n FROM obs),
         cells AS (
           SELECT coalesce(obs.o, 0.0) AS o, rt.rt * ct.ct / n.n AS e
           FROM rt CROSS JOIN ct CROSS JOIN n
           LEFT JOIN obs ON obs.st = rt.st AND obs.pr = ct.pr)
         SELECT
           (SELECT ${Det.sql("sum((o - e) * (o - e) / e)", 4)}
            FROM cells) AS chi2,
           (SELECT (count(DISTINCT st) - 1) * (count(DISTINCT pr) - 1)
            FROM obs) AS df""",
    "m9_t_test" ->
      s"""WITH f AS (SELECT avg(o_totalprice) AS m,
             var_samp(o_totalprice) AS v,
             cast(count(*) AS double) AS n
           FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT avg(o_totalprice) AS m,
             var_samp(o_totalprice) AS v,
             cast(count(*) AS double) AS n
           FROM orders WHERE o_orderstatus = 'O')
         SELECT ${Det.sql(
        "(f.m - o.m) / sqrt(f.v / f.n + o.v / o.n)", 6)} AS t_stat
         FROM f, o""",
    "g1_agg_sum" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${Det.sqlDsum2("l_quantity")} AS sum_qty,
         ${Det.sqlDsum2("l_extendedprice")} AS sum_base_price,
         cast(sum(${Det.sqlD2("l_extendedprice")}
                  * (1 - ${Det.sqlD2("l_discount")})) AS double)
           AS sum_disc_price,
         ${Det.sql(s"${Det.sqlDsum2("l_quantity")} / count(*)", 4)}
           AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY 1, 2""",
    "g2_group_count" ->
      """SELECT o_orderpriority, count(*) AS count FROM orders
         GROUP BY 1""",
    "g3_count_of_counts" ->
      """SELECT n_lines, count(*) AS n_orders FROM
         (SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1)
         GROUP BY 1""",
    "g4_distinct_counts" -> {
      val inner = ordersCols
        .map(c => s"count(DISTINCT $c) AS $c").mkString(", ")
      val outer = ordersCols
        .map(c => s"cast(sum($c) AS bigint) AS $c").mkString(", ")
      s"""SELECT $outer FROM
          (SELECT o_custkey, $inner FROM orders GROUP BY o_custkey)"""
    },
    "g5_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "g6_contingency" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS freq
         FROM orders GROUP BY 1, 2 HAVING count(*) > 0""",
    "g7_value_counts" ->
      """SELECT 'o_orderstatus' AS column_name, o_orderstatus AS value,
           count(*) AS freq FROM orders GROUP BY 2
         UNION ALL
         SELECT 'o_orderpriority', o_orderpriority, count(*)
           FROM orders GROUP BY 2""",
    "g8_describe" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_linenumber",
        "l_orderkey", "l_partkey", "l_quantity", "l_suppkey", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, s.stat AS stat,
            CASE s.stat
              WHEN 'cnt' THEN cast(count($c) AS double)
              WHEN 'mean' THEN ${Det.sql(s"avg($c)", 4)}
              WHEN 'std' THEN ${Det.sql(s"stddev_samp($c)", 4)}
              WHEN 'min' THEN cast(min($c) AS double)
              WHEN 'max' THEN cast(max($c) AS double)
              ELSE cast(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
                        AS double) END AS value
            FROM lineitem CROSS JOIN
              (SELECT unnest(['cnt','mean','std','min','max','nulls'])
                 AS stat) s
            GROUP BY s.stat"""
      }.mkString(" UNION ALL ")
    },
    "g9_weighted_mean" ->
      s"""WITH x AS (SELECT l_suppkey,
           CASE WHEN l_quantity >= 48.0 THEN NULL
                ELSE l_extendedprice END AS price_or_null,
           l_quantity FROM lineitem)
         SELECT l_suppkey,
           ${Det.sql(
        s"""cast(sum(CASE WHEN price_or_null IS NOT NULL
                          THEN ${Det.sqlD2("price_or_null")}
                               * ${Det.sqlD2("l_quantity")} END) AS double)
                 / cast(sum(CASE WHEN price_or_null IS NOT NULL
                            THEN ${Det.sqlD2("l_quantity")} END)
                        AS double)""", 2)} AS weighted_price,
           count(*) AS n_lines
         FROM x GROUP BY 1""",
    // df = 2 ⇒ |t|/√(t²+2) = |r| ⇒ two-sided p = 1 − |t_r|/√(t_r²+2),
    // restated from the SAME 1e−6-rounded t the kernel consumes
    "g10c_corr_test_gate" -> {
      val r = """((n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))"""
      val t = s"($r * sqrt((n - 2.0) / (1.0 - $r * $r)))"
      def side(tag: String, sign: String) = {
        val tr = Det.sql(s"$sign$t", 6)
        s"""SELECT '$tag' AS fixture, cast(n AS bigint) AS n_pair,
             ${Det.sql(s"$sign$r", 6)} AS pearson_r,
             $tr AS t_stat,
             ${Det.sql(s"1.0 - abs($tr) / sqrt(($tr) * ($tr) + 2.0)", 6)}
               AS p_value
           FROM m"""
      }
      s"""WITH b AS (
           SELECT cast(r_regionkey AS double) AS x,
             cast((r_regionkey * r_regionkey) % 5 AS double) AS y
           FROM region WHERE r_regionkey < 4),
         m AS (
           SELECT cast(count(*) AS double) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
           FROM b)
         ${side("pos", "")}
         UNION ALL
         ${side("neg", "-")}"""
    },
    "g10_corr" -> {
      // Mirror of the single-pass shape: ONE aggregate CTE computes
      // every pair's corr + complete-obs count, 28 projections read it.
      val aggExprs = corrPairs.flatMap { case (a, b) =>
        Seq(s"corr($a, $b) AS r_${a}__$b",
          s"count(CASE WHEN $a IS NOT NULL AND $b IS NOT NULL THEN 1 END)" +
            s" AS n_${a}__$b")
      }.mkString(", ")
      val rows = corrPairs.map { case (a, b) =>
        val r = s"r_${a}__$b"
        val n = s"n_${a}__$b"
        val t = s"$r * sqrt((cast($n AS double) - 2.0) / (1.0 - $r * $r))"
        s"SELECT '$a' AS var_a, '$b' AS var_b, $n AS n_pair, " +
          s"${Det.sql(r, 6)} AS pearson_r, ${Det.sql(t, 6)} AS t_stat FROM w"
      }.mkString(" UNION ALL ")
      s"WITH w AS (SELECT $aggExprs FROM lineitem) $rows"
    },
    "m9_vif" -> {
      def vif(rxy: String, rxz: String, ryz: String) =
        s"1.0 / (1.0 - ($rxy * $rxy + $rxz * $rxz" +
          s" - 2.0 * $rxy * $rxz * $ryz) / (1.0 - $ryz * $ryz))"
      s"""WITH r AS (SELECT
           corr(l_quantity, l_extendedprice) AS r_qe,
           corr(l_quantity, l_discount) AS r_qd,
           corr(l_extendedprice, l_discount) AS r_ed
           FROM lineitem)
         SELECT 'l_quantity' AS feature,
           ${Det.sql(vif("r_qe", "r_qd", "r_ed"), 6)} AS vif FROM r
         UNION ALL
         SELECT 'l_extendedprice', ${Det.sql(vif("r_qe", "r_ed", "r_qd"), 6)}
           FROM r
         UNION ALL
         SELECT 'l_discount', ${Det.sql(vif("r_qd", "r_ed", "r_qe"), 6)}
           FROM r"""
    },
    "m9_breusch_pagan" ->
      s"""WITH li AS (SELECT l_extendedprice AS y, l_quantity AS x
                      FROM lineitem),
         fit AS (SELECT covar_pop(y, x) / var_pop(x) AS b,
                   avg(y) AS my, avg(x) AS mx FROM li),
         e AS (SELECT x,
                 (y - (my - b * mx) - b * x) * (y - (my - b * mx) - b * x)
                   AS e2
               FROM li, fit)
         SELECT ${Det.sql(
        "cast(count(*) AS double) * (corr(e2, x) * corr(e2, x))", 4)}
           AS bp
         FROM e""",
    "m9_anova" -> {
      val ts = eventTypes
      val aggCols = ts.map { t =>
        s"""cast(count(CASE WHEN event_type = '$t' THEN 1 END) AS double)
             AS n_$t,
           cast(sum(CASE WHEN event_type = '$t'
             THEN cast(value AS decimal(12,2)) END) AS double) AS s_$t,
           cast(sum(CASE WHEN event_type = '$t'
             THEN cast(value AS decimal(12,2))
                  * cast(value AS decimal(12,2)) END) AS double)
             AS q_$t"""
      }.mkString(",\n           ")
      val nSum = ts.map(t => s"n_$t").mkString(" + ")
      val sSum = ts.map(t => s"s_$t").mkString(" + ")
      val ssb = ts.map(t =>
        s"n_$t * (s_$t / n_$t - grand) * (s_$t / n_$t - grand)")
        .mkString(" + ")
      val ssw = ts.map(t =>
        s"(q_$t - n_$t * (s_$t / n_$t) * (s_$t / n_$t))")
        .mkString(" + ")
      s"""WITH w AS (SELECT $aggCols FROM events),
         g AS (SELECT w.*, ($nSum) AS n_all,
                 (($sSum) / ($nSum)) AS grand FROM w),
         h AS (SELECT n_all, ($ssb) AS ssb, ($ssw) AS ssw FROM g)
         SELECT cast(n_all AS bigint) AS n, 5 AS k,
           ${Det.sql("(ssb / (5.0 - 1.0)) / (ssw / (n_all - 5.0))", 4)}
             AS f_stat
         FROM h"""
    },
    "m9_qq" -> {
      val values = qqPs.zip(qqZs).zipWithIndex.map {
        case ((p, z), i) => s"(${i + 1}, $p, $z)"
      }.mkString(", ")
      s"""WITH a AS (
           SELECT cast(count(*) AS double) AS n,
             ${Det.sqlDsum2("value")} AS sy,
             cast(sum(cast(value AS decimal(12,2))
               * cast(value AS decimal(12,2))) AS double) AS qy,
             quantile_cont(value, [${qqPs.mkString(", ")}]) AS qs
           FROM events)
         SELECT cast(v.p AS double) AS p,
           ${Det.sql(
            "(qs[v.i] - sy / n) / sqrt((qy - sy * sy / n) / (n - 1.0))",
            4)} AS sample_q,
           cast(v.z AS double) AS theoretical_q
         FROM a CROSS JOIN (VALUES $values) v(i, p, z)"""
    },
    "g14_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         ${Det.sqlDsum2("o_totalprice")} AS sum_total,
         cast(GROUPING(o_orderstatus, o_orderpriority) AS bigint) AS level
         FROM orders
         GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "g15_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         ${Det.sqlDsum2("o_totalprice")} AS sum_total,
         cast(GROUPING(o_orderstatus, o_orderpriority) AS bigint) AS level
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "w1_running_window" ->
      s"""SELECT o_orderkey, o_custkey, o_orderdate,
         cast(row_number() OVER w AS int) AS order_seq,
         cast(sum(cast(o_totalprice AS decimal(12,2))) OVER wrun
           AS double) AS running_total,
         ${Det.sql(
          "cast(sum(cast(o_totalprice AS decimal(12,2))) OVER w3 " +
            "AS double) / cast(count(*) OVER w3 AS double)", 4)}
           AS trailing_avg3
         FROM orders
         WINDOW
           w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
           wrun AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w3 AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "w2_window_funcs" ->
      s"""SELECT o_orderkey, o_orderpriority, o_totalprice,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         cast(rank() OVER w AS int) AS rnk,
         cast(dense_rank() OVER w AS int) AS dense_rnk,
         cast(ntile(4) OVER w AS int) AS quartile,
         ${Det.sql("percent_rank() OVER w", 6)} AS pct_rank,
         ${Det.sql("cume_dist() OVER w", 6)} AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)""",
    "w2b_window_highcard" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         cast(rank() OVER w AS int) AS rnk,
         cast(dense_rank() OVER w AS int) AS dense_rnk,
         cast(ntile(4) OVER w AS int) AS quartile,
         ${Det.sql("percent_rank() OVER w", 6)} AS pct_rank,
         ${Det.sql("cume_dist() OVER w", 6)} AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey)""",
    "g16_weighted_median" ->
      """SELECT l_returnflag, min(val) AS w_median FROM (
           SELECT l_returnflag, l_extendedprice AS val,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
           FROM lineitem)
         WHERE cumw >= totw / 2.0
         GROUP BY 1""",
    "g11_median" ->
      s"""SELECT ${Det.sql("quantile_cont(o_totalprice, 0.25)", 2)} AS p25,
         ${Det.sql("quantile_cont(o_totalprice, 0.5)", 2)} AS p50,
         ${Det.sql("quantile_cont(o_totalprice, 0.75)", 2)} AS p75
         FROM orders""",
    "w3_range_window" ->
      """SELECT o_orderkey, o_custkey,
         datediff('day', DATE '1992-01-01', cast(o_orderdate AS date))
           AS day,
         count(*) OVER w AS n_7d,
         cast(sum(cast(o_totalprice AS decimal(12,2))) OVER w AS double)
           AS spend_7d
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY datediff('day', DATE '1992-01-01',
                                        cast(o_orderdate AS date))
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    "w4_gap_fill" ->
      s"""WITH ev AS (
           SELECT user_id, date_trunc('hour', ts) AS hr, value
           FROM events),
         obs AS (SELECT user_id, hr,
                   ${Det.sql("avg(value)", 4)} AS v
                 FROM ev GROUP BY 1, 2),
         bounds AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM ev),
         spine AS (SELECT unnest(generate_series(h0, h1,
                     INTERVAL 1 HOUR)) AS hr FROM bounds),
         grid AS (SELECT user_id, hr
                  FROM (SELECT DISTINCT user_id FROM ev)
                  CROSS JOIN spine)
         SELECT g.user_id, epoch_us(g.hr) AS hr_us,
           last_value(o.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value_filled
         FROM grid g
         LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr""",
    "g17_grouped_quantiles" ->
      s"""SELECT o_orderpriority,
         ${Det.sql("quantile_cont(o_totalprice, 0.25)", 2)} AS p25,
         ${Det.sql("quantile_cont(o_totalprice, 0.5)", 2)} AS p50,
         ${Det.sql("quantile_cont(o_totalprice, 0.75)", 2)} AS p75
         FROM orders GROUP BY 1""")
}
