package graft
// (NGramGenerator UDTF tests live at the bottom of this suite)

import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** The codegen'd text kernels must agree byte-for-byte with the
  * split/filter formulations they replace — on the real corpus AND on
  * the split-semantics edge cases (empty string, leading/trailing/
  * adjacent delimiters, unicode, null). */
class TextKernelsSpec extends SparkTestBase {

  private lazy val edges = {
    import spark.implicits._
    Seq("", " ", "a", "a b", "a  b", " a b ", "the", "the the  the",
      "thé the", "한국어 the 텍스트", "a,b the", "la le la")
      .toDF("text")
  }

  test("token_count == size(split) on corpus and edges") {
    val corpus = Tables.documents(spark, sfTest)
      .select(expr("token_count(text)").as("k"),
        size(split(col("text"), " ")).as("h"))
    assert(corpus.filter(col("k") =!= col("h")).count() == 0)
    val edge = edges.select(expr("token_count(text)").as("k"),
      size(split(col("text"), " ")).as("h"))
    assert(edge.filter(col("k") =!= col("h")).count() == 0)
    // null propagates
    import spark.implicits._
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(expr("token_count(text)").as("k"))
    assert(nulls.head().isNullAt(0))
  }

  test("stopword_count == size(filter(split)) on corpus and edges") {
    def hof(ws: Seq[String]) = expr(
      s"size(filter(split(text, ' '), t -> t IN " +
        ws.map(w => s"'$w'").mkString("(", ", ", ")") + "))")
    val lists = Seq(
      Seq("the", "a", "and", "of", "to", "in", "is", "on"),
      Seq("le", "la", "les", "et", "un", "une"))
    for (ws <- lists) {
      val kernel = expr(s"stopword_count(text, '${ws.mkString(",")}')")
      val corpus = Tables.documents(spark, sfTest)
        .select(kernel.as("k"), hof(ws).as("h"))
      assert(corpus.filter(col("k") =!= col("h")).count() == 0,
        s"corpus mismatch for $ws")
      val edge = edges.select(kernel.as("k"), hof(ws).as("h"))
      assert(edge.filter(col("k") =!= col("h")).count() == 0,
        s"edge mismatch for $ws")
    }
  }

  test("kernels == HOF on 200 seeded random strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default.withSize(40), Seed(seed))
        .getOrElse(sys.error(s"gen failed for seed $seed"))
    val tokenGen = Gen.oneOf("the", "a", "la", "le", "und", "한국어",
      "thé", "x1", "", "on", "que", "theon", "a,b")
    val textGen = for {
      toks <- Gen.listOf(tokenGen)
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ")
    } yield lead + toks.mkString(" ") + trail
    val texts = (1L to 200L).map(s => sample(textGen, s))
    import spark.implicits._
    val en = Seq("the", "a", "and", "of", "to", "in", "is", "on")
    val cmp = texts.toDF("text").select(
      expr("token_count(text)").as("tk"),
      size(split(col("text"), " ")).as("th"),
      expr(s"stopword_count(text, '${en.mkString(",")}')").as("sk"),
      expr(s"size(filter(split(text, ' '), t -> t IN " +
        en.map(w => s"'$w'").mkString("(", ", ", ")") + "))").as("sh"))
    assert(cmp.filter(col("tk") =!= col("th")
      || col("sk") =!= col("sh")).count() == 0)
  }

  test("x2 projection stays inside WholeStageCodegen with the kernels") {
    val plan = TextAnalysis.x2TextQuality(spark, sfTest)
      .queryExecution.executedPlan.toString
    // a CodegenFallback HOF would print the Project without the
    // WholeStageCodegen '*(n)' marker (as n0's aggregate-HOF plan does)
    assert(plan.contains("*(1) Project"), s"expected codegen'd plan:\n$plan")
  }

  test("distinct_ngram_count == array_distinct HOF on corpus and edges") {
    def hof(n: Int) =
      if (n == 1) org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_distinct(
          org.apache.spark.sql.functions.split(col("text"), " ")))
      else org.apache.spark.sql.functions.expr(
        s"""size(array_distinct(CASE
             WHEN size(split(text, ' ')) < $n THEN array()
             ELSE transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
               i -> concat_ws(' ', slice(split(text, ' '), i, $n))) END))""")
    for (n <- Seq(1, 2, 3, 5)) {
      val mismatch = Tables.documents(spark, sfTest)
        .select(expr(s"distinct_ngram_count(text, $n)").as("k"),
          hof(n).as("h"))
        .filter(col("k") =!= col("h"))
      assert(mismatch.count() == 0, s"kernel != HOF at n=$n")
    }
    // edge semantics: empties from multi-space runs reproduce exactly
    import spark.implicits._
    val edges = Seq("", " ", "a  b a  b", "a a a", "x", "a b c")
      .toDF("text")
    for (n <- Seq(1, 3)) {
      val bad = edges.select(expr(s"distinct_ngram_count(text, $n)").as("k"),
        hof(n).as("h")).filter(col("k") =!= col("h"))
      assert(bad.count() == 0, s"edge mismatch at n=$n")
    }
  }

  test("x15 projection stays inside WholeStageCodegen with the kernel") {
    val plan = TextAnalysis.x15Repetition(spark, sfTest)
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expected codegen'd plan:\n$plan")
  }

  test("ngrams UDTF plans a Generate and matches the shingle kernel") {
    import spark.implicits._
    val df = TextAnalysis.x10Ngrams(spark, sfSmoke)
    assert(df.queryExecution.executedPlan.toString.contains("Generate"),
      "a Generator must plan through GenerateExec")
    // positions are a dense 0..k-1 range per doc
    val badPos = df.groupBy("doc_id")
      .agg(min("pos").as("lo"), max("pos").as("hi"),
        count(lit(1)).as("n"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
    assert(badPos.count() == 0)
    // the DISTINCT ngram set per doc equals d2/d3's shingle kernel
    val viaGen = df.select("doc_id", "ngram").distinct()
    val viaKernel = Tables.documents(spark, sfSmoke)
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) => dedup.Dedup.shingleSet(t).map((id, _)) }
      .toDF("doc_id", "ngram")
    assert(viaGen.exceptAll(viaKernel).count() == 0)
    assert(viaKernel.exceptAll(viaGen).count() == 0)
    // short docs emit nothing, never a partial window
    val two = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(two.select(expr("ngrams(text, 3)")).count() == 0)
  }

  test("ngrams keeps empty tokens like Catalyst split / string_split") {
    import spark.implicits._
    // "a b c " splits (limit -1) to [a, b, c, ""] → TWO 3-windows;
    // Java's default split drops the trailing empty and would emit one
    val df = Seq((1L, "a b c "), (2L, " x y")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), expr("ngrams(text, 3)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got == Set((1L, "a b c", 0), (1L, "b c ", 1),
      (2L, " x y", 0)), s"got $got")
    // and the kernel twin (shingleSet) agrees on the same edge
    val viaKernel = df.as[(Long, String)]
      .flatMap { case (id, t) => dedup.Dedup.shingleSet(t).map((id, _)) }
      .collect().toSet
    val viaGen = got.map { case (id, g, _) => (id, g) }
    assert(viaKernel == viaGen, s"kernel $viaKernel vs gen $viaGen")
  }

  test("ngrams rejects non-string input at analysis time") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("ngrams(doc_id, 2)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"),
      s"expected a type message, got: ${e.getMessage}")
  }

  test("ngrams_distinct dedups row-locally, keeps first pos, no exchange") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a b"), (2L, "x y z")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), expr("ngrams_distinct(text, 2)"))
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // doc 1 has windows [a b, b a, a b, b a, a b] → 2 distinct, first pos
    assert(rows == Set((1L, "a b", 0), (1L, "b a", 1),
      (2L, "x y", 0), (2L, "y z", 1)))
    // parity: same gram SET as ngrams + global distinct, on real data
    val viaDistinctGen = Tables.documents(spark, sfSmoke)
      .select(col("doc_id"), expr("ngrams_distinct(text, 4)"))
      .select("doc_id", "ngram")
    val viaGlobal = Tables.documents(spark, sfSmoke)
      .select(col("doc_id"), expr("ngrams(text, 4)"))
      .select("doc_id", "ngram").distinct()
    assert(viaDistinctGen.exceptAll(viaGlobal).count() == 0)
    assert(viaGlobal.exceptAll(viaDistinctGen).count() == 0)
    // and the scale contract: the dedup itself needs NO exchange
    import org.apache.spark.sql.execution.exchange.Exchange
    val exec = viaDistinctGen.queryExecution.executedPlan
    assert(exec.collect { case e: Exchange => e }.isEmpty,
      s"row-local dedup must not shuffle:\n$exec")
  }

  test("x16 PII redaction: planted contacts found, clean_text is clean") {
    // plan-shape first, BEFORE cache() swaps in an InMemoryTableScan:
    // the projection stays inside WholeStageCodegen (scan-speed op)
    val exec = TextAnalysis.x16PiiRedaction(spark, sfTest)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    assert(exec.collect {
      case w: WholeStageCodegenExec => w
    }.nonEmpty, s"x16 fell out of codegen:\n$exec")
    val out = TextAnalysis.x16PiiRedaction(spark, sfTest).cache()
    try {
      val docs = Tables.documents(spark, sfTest).count()
      assert(out.count() == docs)
      // every 10th doc carries exactly the planted email + phone
      val planted = out.filter(col("doc_id") % 10 === 0)
      assert(planted.filter(col("n_emails") < 1).count() == 0)
      assert(planted.filter(col("n_phones") < 1).count() == 0)
      // nothing survives redaction: rescanning clean_text finds 0 PII
      val residual = out.filter(
        regexp_count(col("clean_text"),
          lit("[a-z0-9._]+@[a-z0-9.]+[.][a-z]+")) > 0 ||
          regexp_count(col("clean_text"), lit("[0-9]{3}-[0-9]{4}")) > 0)
      assert(residual.count() == 0, "redaction left PII behind")
      // masks present where counts say they should be
      assert(out.filter(col("n_emails") > 0 &&
        !col("clean_text").contains("<EMAIL>")).count() == 0)
    } finally out.unpersist()
  }
}
