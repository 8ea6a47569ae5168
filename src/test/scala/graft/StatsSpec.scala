package graft

import graft.ml.Stats

/** Pins the special-function kernels against exact closed forms —
  * self-contained ground truth, no external stats library needed. */
class StatsSpec extends SparkTestBase {

  private def rel(a: Double, b: Double) =
    math.abs(a - b) / math.max(1e-300, math.abs(b))

  test("lnGamma matches factorials and the half-integer closed form") {
    // Γ(n) = (n−1)!
    assert(rel(math.exp(Stats.lnGamma(5.0)), 24.0) < 1e-12)
    assert(rel(math.exp(Stats.lnGamma(10.0)), 362880.0) < 1e-12)
    // Γ(1/2) = √π
    assert(rel(math.exp(Stats.lnGamma(0.5)), math.sqrt(math.Pi)) < 1e-12)
    // Γ(3/2) = √π/2
    assert(rel(math.exp(Stats.lnGamma(1.5)), math.sqrt(math.Pi) / 2) < 1e-12)
  }

  test("I_x(1/2,1/2) equals the arcsine law") {
    for (x <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val exact = 2.0 / math.Pi * math.asin(math.sqrt(x))
      assert(rel(Stats.regIncompleteBeta(0.5, 0.5, x), exact) < 1e-12,
        s"x=$x")
    }
  }

  test("t p-value matches the df=1 Cauchy closed form") {
    // P(|T|>t) = 1 − (2/π)·atan(t) for t ≥ 0
    for (t <- Seq(0.1, 0.5, 1.0, 2.0, 5.0, 20.0)) {
      val exact = 1.0 - 2.0 / math.Pi * math.atan(t)
      assert(rel(Stats.tTwoSidedP(t, 1.0), exact) < 1e-12, s"t=$t")
    }
  }

  test("t p-value matches the df=2 closed form") {
    // P(|T|>t) = 1 − t/√(2+t²)
    for (t <- Seq(0.1, 0.5, 1.0, 2.0, 5.0, 20.0)) {
      val exact = 1.0 - t / math.sqrt(2.0 + t * t)
      assert(rel(Stats.tTwoSidedP(t, 2.0), exact) < 1e-12, s"t=$t")
    }
  }

  test("t p-value approaches the normal limit at large df") {
    // two-sided normal p at z=1.96 ≈ 0.05 (and t(1e7) ≈ normal)
    val p = Stats.tTwoSidedP(1.959963984540054, 1e7)
    assert(math.abs(p - 0.05) < 1e-6, s"p=$p")
  }

  test("p-value is symmetric, monotone in |t|, and handles edges") {
    assert(Stats.tTwoSidedP(2.5, 10.0) == Stats.tTwoSidedP(-2.5, 10.0))
    assert(Stats.tTwoSidedP(0.0, 10.0) == 1.0)
    val ps = Seq(0.5, 1.0, 2.0, 4.0, 8.0).map(Stats.tTwoSidedP(_, 7.0))
    assert(ps == ps.sorted.reverse, s"not monotone: $ps")
    assert(Stats.tTwoSidedP(Double.PositiveInfinity, 3.0) == 0.0)
    assert(Stats.corTestP(0.9999999999, 30) > 0.0 || Stats.corTestP(1.0, 30) == 0.0)
    // n <= 2 means df <= 0: the test is undefined (R's cor.test
    // errors) — the honest degenerate value is NaN, never a
    // maximally-significant 0.0
    assert(Stats.corTestP(0.1, 2.0).isNaN)
    assert(Stats.corTestP(0.1, 0.0).isNaN)
  }

  test("Stats t CDF agrees with spark.ml's OLS p-values") {
    // independent implementations: spark.ml derives Pr(>|t|) via
    // breeze's t distribution; Stats via the incomplete beta. m2's
    // emitted (t_i, p_i, df_residual) triples must reconcile (values
    // are Det.r6-rounded → loose absolute tolerance).
    val m = ml.Models.m2Linreg(spark, sfSmoke).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dof = m("df_residual")
    assert(dof > 0)
    val names = m.keys.filter(_.startsWith("t_")).map(_.stripPrefix("t_"))
    assert(names.nonEmpty)
    names.foreach { nm =>
      val expected = Stats.tTwoSidedP(m(s"t_$nm"), dof)
      assert(math.abs(m(s"p_$nm") - expected) < 5e-5,
        s"$nm: p=${m(s"p_$nm")} vs Stats=$expected")
    }
  }

  test("g10b cor.test query emits finite p-values consistent with t") {
    val rows = ops.Aggregates.g10bCorrTest(spark, sfSmoke).collect()
    assert(rows.length == 28) // full 8-column matrix: k(k-1)/2
    rows.foreach { r =>
      val (t, p) = (r.getDouble(3), r.getDouble(4))
      assert(p >= 0.0 && p <= 1.0)
      // big |t| ↔ small p
      if (math.abs(t) > 10) assert(p < 1e-4)
    }
  }

  test("t_test_p expression == Stats kernel, inside WholeStageCodegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // spark.range (not a local Seq): ConvertToLocalRelation would
    // constant-fold a foldable projection into the LocalTableScan,
    // and the point here is to drive the GENERATED code path
    val df = spark.range(8)
      .select((col("id").cast("double") * 1.25 - 3.0).as("t"),
        (col("id").cast("double") + 1.0).as("dof"))
      .select(col("t"), col("dof"), expr("t_test_p(t, dof)").as("p"))
    df.collect().foreach { r =>
      val expected = ml.Stats.tTwoSidedP(r.getDouble(0), r.getDouble(1))
      assert(r.getDouble(2) == expected,
        s"t=${r.getDouble(0)} df=${r.getDouble(1)}")
    }
    // the point of the expression over a UDF: the projection stays
    // codegen'd (no BatchEvalPython/ScalaUDF codegen fence)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("*(1) LocalTableScan")
      || plan.contains("WholeStageCodegen"),
      s"expected codegen'd plan:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF bridge in plan:\n$plan")
    // null in → null out
    val n = Seq((Some(1.0), Option.empty[Double])).toDF("t", "dof")
      .selectExpr("t_test_p(t, dof)").collect()
    assert(n.head.isNullAt(0))
  }

  test("chi2 p matches the even-df closed forms on both branches") {
    // df = 2m → Q(m, y) = e^{-y}·Σ_{k<m} y^k/k!, y = x/2; the x
    // values straddle the series/continued-fraction branch at
    // y = a + 1, so both expansions are pinned
    for (x <- Seq(0.5, 2.0, 3.9, 4.1, 10.0, 40.0)) {
      val y = x / 2.0
      assert(rel(Stats.chiSquareUpperP(x, 2.0), math.exp(-y)) < 1e-12,
        s"df=2 x=$x")
      assert(rel(Stats.chiSquareUpperP(x, 4.0),
        math.exp(-y) * (1.0 + y)) < 1e-12, s"df=4 x=$x")
      assert(rel(Stats.chiSquareUpperP(x, 8.0),
        math.exp(-y) * (1.0 + y + y * y / 2.0 + y * y * y / 6.0))
        < 1e-12, s"df=8 x=$x")
    }
  }

  test("chi2 p matches erfc at df=1 and the 95% critical value") {
    // Q(1/2, y) = erfc(√y) — references from math.erfc
    val erfcPins = Seq(1.0 -> 0.31731050786291404,
      4.0 -> 0.045500263896358396, 9.0 -> 0.0026997960632601913)
    for ((x, exact) <- erfcPins)
      assert(rel(Stats.chiSquareUpperP(x, 1.0), exact) < 1e-12, s"x=$x")
    // the textbook 95% critical value of χ²(1)
    assert(rel(Stats.chiSquareUpperP(3.841458820694124, 1.0), 0.05)
      < 1e-9)
    // edges + monotonicity
    assert(Stats.chiSquareUpperP(0.0, 3.0) == 1.0)
    assert(Stats.chiSquareUpperP(Double.PositiveInfinity, 3.0) == 0.0)
    val ps = Seq(0.1, 1.0, 5.0, 20.0, 100.0)
      .map(Stats.chiSquareUpperP(_, 5.0))
    assert(ps == ps.sorted.reverse && ps.forall(p => p > 0 && p < 1))
  }

  test("chi2_p expression == Stats kernel, inside WholeStageCodegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val df = spark.range(8)
      .select((col("id").cast("double") * 2.5 + 0.25).as("x2"),
        (col("id").cast("double") + 1.0).as("dof"))
      .select(col("x2"), col("dof"), expr("chi2_p(x2, dof)").as("p"))
    df.collect().foreach { r =>
      val expected = ml.Stats.chiSquareUpperP(r.getDouble(0), r.getDouble(1))
      assert(r.getDouble(2) == expected,
        s"x2=${r.getDouble(0)} df=${r.getDouble(1)}")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("*(1) LocalTableScan")
      || plan.contains("WholeStageCodegen"),
      s"expected codegen'd plan:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF bridge in plan:\n$plan")
    val n = Seq((Some(1.0), Option.empty[Double])).toDF("x2", "dof")
      .selectExpr("chi2_p(x2, dof)").collect()
    assert(n.head.isNullAt(0))
  }

  test("m9 chi-square query: statistic and df are coherent") {
    val out = ops.Aggregates.m9ChiSquare(spark, sfTest).collect()
    assert(out.length == 1)
    val chi2 = out.head.getAs[Double]("chi2")
    val dof = out.head.getAs[Long]("df")
    // orders has 3 statuses × 5 priorities at every SF
    assert(dof == 8L, s"df=$dof")
    assert(chi2 >= 0.0 && chi2.isFinite, s"chi2=$chi2")
    // the p the kernel would report is a valid probability
    val p = ml.Stats.chiSquareUpperP(chi2, dof.toDouble)
    assert(p >= 0.0 && p <= 1.0)
  }
}
