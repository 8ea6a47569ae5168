package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graft's own Catalyst expressions give the same bits interpreted as
  * compiled: each is evaluated on the same rows in the test session
  * (whole-stage codegen) and in a child session with
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`, where Spark calls their
  * `nullSafeEval` / `eval` paths instead of the generated Java. The
  * rows come from an RDD, not a local Seq: ConvertToLocalRelation
  * would evaluate a projection over a local relation on the driver,
  * interpreted, in both sessions. */
class InterpretedEvalSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("text", StringType),
    StructField("a", ArrayType(FloatType)),
    StructField("b", ArrayType(FloatType)),
    StructField("t", DoubleType),
    StructField("x2", DoubleType),
    StructField("dof", DoubleType)))

  private val rows = Seq(
    Row(0, "the cat sat on the mat", Seq(1f, 2f, 3f), Seq(3f, 2f, 1f),
      -2.5, 0.5, 1.0),
    Row(1, "", Seq(0f, 0f), Seq(1f, 1f), 0.0, 0.0, 2.0),
    Row(2, " a  b ", Seq(0.1f, -0.7f), Seq(0.1f, -0.7f), 1.75, 3.84, 3.0),
    Row(3, "a of the a of the", Seq(1f), Seq(1f, 2f), 12.0, 40.0, 4.0),
    Row(4, "한국어 the 텍스트 the", Seq.empty[Float], Seq.empty[Float],
      -0.001, 7.5, 17.0),
    Row(5, null, null, Seq(1f), null, null, 5.0),
    Row(6, "martha", Seq(2.5f, -1f, 4f), Seq(-2.5f, 1f, 4f), 3.3, 11.07,
      30.0),
    Row(7, "dixon dicksonx jellyfish", Seq(1e-20f, 3f), Seq(2f, 1e20f),
      -7.0, 0.001, 1.0))

  private def frame(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
      .withColumn("u", element_at(split(col("text"), " "), 1))

  private val scalars = Seq(
    "float_cosine(a, b)", "jaro_winkler(text, u)", "jaro_winkler(u, 'martha')",
    "t_test_p(t, dof)", "chi2_p(x2, dof)", "token_count(text)",
    "distinct_ngram_count(text, 2)", "stopword_count(text, 'the,a,of')")

  /** Doubles by their bits, so that equal means bit-equal. */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  }

  /** (scalar rows, n-gram rows, executed plan) of `s`, by id. */
  private def evaluate(s: SparkSession): (Seq[Seq[Any]], Seq[Seq[Any]], String) = {
    val df = frame(s)
    val projected = df.select(col("id") +: scalars.map(expr): _*)
    val grams = df.select(col("id"), expr("ngrams(text, 2)"))
    (projected.collect().sortBy(_.getInt(0)).map(bits).toSeq,
      grams.collect().map(bits).toSeq.sortBy(_.mkString("\u0000")),
      projected.queryExecution.executedPlan.toString)
  }

  test("graft's expressions: interpreted equals compiled, bit for bit") {
    val interpretedSession = spark.newSession()
    interpretedSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val (compiled, compiledGrams, compiledPlan) = evaluate(spark)
    val (interpreted, interpretedGrams, interpretedPlan) =
      evaluate(interpretedSession)
    assert(compiledPlan.contains("*(1) Project"),
      s"the test session did not compile the projection:\n$compiledPlan")
    assert(!interpretedPlan.contains("*("),
      s"the NO_CODEGEN session compiled a stage:\n$interpretedPlan")
    assert(compiled.size == rows.size)
    // each expression yields a value somewhere, and NULL on the NULL row
    scalars.indices.foreach { i =>
      assert(compiled.exists(_(i + 1) != null), s"${scalars(i)} is always NULL")
    }
    assert(compiled.find(_.head == 5).get.tail.forall(_ == null))
    compiled.zip(interpreted).foreach { case (c, i) =>
      scalars.indices.foreach { k =>
        assert(c(k + 1) == i(k + 1),
          s"${scalars(k)} on row ${c.head}: compiled ${c(k + 1)}, " +
            s"interpreted ${i(k + 1)}")
      }
    }
    assert(compiledGrams.nonEmpty)
    assert(compiledGrams == interpretedGrams)
  }
}
