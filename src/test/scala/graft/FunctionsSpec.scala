package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, JaroWinkler, WeightedMedian}

/** The native FloatCosine expression: codegen path must agree exactly
  * with the interpreted HOF formulation (same IEEE op order), SQL
  * registration must resolve, and nulls must propagate. */
class FunctionsSpec extends SparkTestBase {

  test("float_cosine equals the HOF cosine bit-for-bit on embeddings") {
    val emb = Tables.embeddings(spark, sfTest).limit(100)
    val hof = emb.as("q").crossJoin(emb.as("v"))
      .select(col("q.vec_id").as("a"), col("v.vec_id").as("b"),
        expr(
          """aggregate(zip_with(q.embedding, v.embedding,
               (x, y) -> cast(x AS double) * cast(y AS double)),
               cast(0 AS double), (acc, v) -> acc + v)
             / (sqrt(aggregate(transform(q.embedding,
                  x -> cast(x AS double) * cast(x AS double)),
                  cast(0 AS double), (acc, v) -> acc + v))
              * sqrt(aggregate(transform(v.embedding,
                  x -> cast(x AS double) * cast(x AS double)),
                  cast(0 AS double), (acc, v) -> acc + v)))""")
          .as("c_hof"))
    val native = emb.as("q").crossJoin(emb.as("v"))
      .select(col("q.vec_id").as("a"), col("v.vec_id").as("b"),
        GraftFunctions.floatCosine("q.embedding", "v.embedding")
          .as("c_native"))
    val joined = native.join(hof, Seq("a", "b"))
    // exact equality — both accumulate in index order in double
    assert(joined.filter(col("c_native") =!= col("c_hof")).count() == 0)
    assert(joined.count() == 100L * 100)
  }

  test("float_cosine resolves from SQL and handles nulls/self-similarity") {
    Tables.embeddings(spark, sfSmoke).createOrReplaceTempView("emb_fn_test")
    val self = spark.sql(
      "SELECT float_cosine(embedding, embedding) AS c FROM emb_fn_test")
    assert(self.filter(abs(col("c") - 1.0) > 1e-12).count() == 0)
    val nulls = spark.sql(
      "SELECT float_cosine(NULL, embedding) AS c FROM emb_fn_test")
    assert(nulls.filter(col("c").isNotNull).count() == 0)
  }

  test("float_cosine: zero-norm and length-mismatch yield NULL, not NaN") {
    // codegen path (column input) and interpreted path (literal fold)
    // must both null out instead of emitting 0/0 = NaN — NaN sorts
    // ABOVE every double and would falsely rank first in top-k desc.
    val df = spark.sql(
      """SELECT
           float_cosine(cast(array(0.0, 0.0) AS array<float>),
                        cast(array(1.0, 2.0) AS array<float>)) AS zero_norm,
           float_cosine(cast(array() AS array<float>),
                        cast(array() AS array<float>)) AS empty,
           float_cosine(cast(array(1.0) AS array<float>),
                        cast(array(1.0, 2.0) AS array<float>)) AS mismatch,
           float_cosine(cast(array(1.0, 0.0) AS array<float>),
                        cast(array(1.0, 0.0) AS array<float>)) AS ok""")
    val r = df.head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) == 1.0)
  }

  test("weighted median: hand-computed fixtures, unit weights, skewed weights") {
    import spark.implicits._
    def wm(rows: Seq[(String, Double, Double)]): Map[String, Double] =
      rows.toDF("g", "v", "w")
        .repartition(3) // force a real partial/final merge across partitions
        .groupBy("g")
        .agg(WeightedMedian.weightedMedian($"v", $"w").as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // unit weights over 1..5: half = 2.5, cum at 3 is 3 → lower median 3
    val unit = wm((1 to 5).map(i => ("a", i.toDouble, 1.0)))
    assert(unit("a") == 3.0)
    // a heavy weight drags the median to its value
    val skew = wm(Seq(("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 10.0)))
    assert(skew("b") == 3.0)
    // duplicate values collapse: (5 w=1)×4 + (1 w=5) → tot 9, half 4.5 ≤ 5 → 1
    val dup = wm(Seq.fill(4)(("c", 5.0, 1.0)) :+ ("c", 1.0, 5.0))
    assert(dup("c") == 1.0)
    // two groups stay independent
    val multi = wm(Seq(("x", 1.0, 1.0), ("x", 9.0, 1.0), ("y", 7.0, 2.0)))
    assert(multi("x") == 1.0 && multi("y") == 7.0)
  }

  test("weighted median with unit weights equals the exact lower median") {
    val df = Tables.orders(spark, sfSmoke)
    val custom = df.groupBy("o_orderpriority")
      .agg(WeightedMedian.weightedMedian(col("o_totalprice"), lit(1.0))
        .as("m"))
    // lower median = smallest value whose rank reaches ceil(n/2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority").orderBy("o_totalprice")
    val expected = df
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority")))
      .filter(col("rn") === ceil(col("n") / 2.0))
      .select(col("o_orderpriority"), col("o_totalprice").as("m"))
    val a = custom.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = expected.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("jaro_winkler reproduces DuckDB's doubles bit-for-bit") {
    // probe set captured from duckdb jaro_winkler_similarity
    // (2026-08-15); covers transpositions (MARTHA), unequal lengths
    // (DIXON), no-prefix (JELLYFISH), the 0.7 boost threshold both
    // ways (ab/abzzz… boosted at jaro 0.7037; abqq NOT boosted at
    // 0.5476), the zero-window degenerate (ab/ba), and DuckDB's
    // empty-string-scores-zero convention.
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("DwAyNE", "DuANE", 0.8400000000000001),
      ("ab", "ba", 0.0),
      ("ab", "abzzzzzzzzzzzzzzzz", 0.762962962962963),
      ("abqq", "abzzzzzzzzzzzz", 0.5476190476190476),
      ("abcdzzzzzzzz", "abcdyyyyyyyyyyyyyyyyyy", 0.5050505050505051),
      ("hello world", "hello wrold", 0.9818181818181818),
      ("prefix_same_long", "prefix_same_lnog", 0.9874999999999999))
    import spark.implicits._
    // through the EXPRESSION (codegen path), not the static kernel
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(expr("jaro_winkler(a, b)")).collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b, want), g) =>
      assert(g == want, s"jaro_winkler($a, $b): got $g want $want")
    }
    // interpreted twin agrees with codegen
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    cases.foreach { case (a, b, want) =>
      assert(JaroWinkler.similarity(u8(a), u8(b)) == want)
    }
    // null propagation through the expression
    val n = spark.sql("SELECT jaro_winkler(NULL, 'x') AS j").head()
    assert(n.isNullAt(0))
  }
}
