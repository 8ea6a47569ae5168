package graft.tools

import graft.GraftExtensions
import graft.sim.Similarity

/** Dev tool: measures ANN recall vs the n1 brute-force ground truth
  * and LSH bucket occupancy across (planes, tables) settings — the
  * numbers behind DedupSimSpec's recall/occupancy gates. Not part of
  * the library surface.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftExtensions.session(GraftExtensions.cores)

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // "ivf" mode (round 13): probe-count sweep for n3/n6 at SCALE
    // corpora — n2/n4 are excluded (n2 is the documented quadratic;
    // n4 is flat-PQ, no probes). Ground truth = n1 label-blocked
    // brute force, same as below. Usage: RecallProbe <dir> ivf
    if (args.length > 1 && args(1) == "ivf") {
      import org.apache.spark.sql.functions.col
      val truth = pairs(Similarity.n1SimTopkBruteforce(spark, dir))
      println(s"n1 truth pairs: ${truth.size}")
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val (cells, autoP) = Similarity.n3AutoDial(n)
      val sqrtP = math.max(4, math.ceil(math.sqrt(cells)).toInt)
      val cand = Seq(sqrtP, 2 * sqrtP, 4 * sqrtP, autoP)
        .filter(_ <= cells).distinct.sorted
      println(s"ivf sweep: n=$n cells=$cells autoProbes=$autoP " +
        s"candidates=$cand")
      for (p <- cand) {
        val t0 = System.nanoTime()
        val got = pairs(Similarity.ivfPqTopkOf(spark,
          graft.Tables.embeddings(spark, dir)
            .select("vec_id", "embedding"),
          col("vec_id") % 50 === 0, k = 5, dir, "base", Some(p)))
        val sec = (System.nanoTime() - t0) / 1e9
        val r = (got & truth).size.toDouble / truth.size
        println(f"n6 probes=$p recall=$r%.3f serve_wall=$sec%.1f s")
      }
      spark.stop(); return
    }

    // "rerank" mode (round 14, VERDICT r13 item 7): exact-re-rank
    // DEPTH sweep for n6 at a scale corpus — probes stay at the auto
    // dial; only the top-R-by-ADC cut before the exact re-score
    // varies. Usage: RecallProbe <dir> rerank
    if (args.length > 1 && args(1) == "rerank") {
      import org.apache.spark.sql.functions.col
      val truth = pairs(Similarity.n1SimTopkBruteforce(spark, dir))
      println(s"n1 truth pairs: ${truth.size}")
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val d = 4 * Similarity.n4RerankDepth(n)
      val cand = Seq(d / 16, d / 8, d / 4, d / 2, d)
        .filter(_ >= 5).distinct.sorted
      println(s"rerank sweep: n=$n default_depth=$d candidates=$cand")
      for (r <- cand) {
        // drop the previous point's checkpoints/persists — without
        // the scrub the sweep accumulates dead blocks and OOMs by
        // the third point (the fit memo is driver-local and survives)
        graft.SessionCaches.scrub(spark)
        val t0 = System.nanoTime()
        val got = pairs(Similarity.ivfPqTopkOf(spark,
          graft.Tables.embeddings(spark, dir)
            .select("vec_id", "embedding"),
          col("vec_id") % 50 === 0, k = 5, dir, "base",
          rerankOverride = Some(r)))
        val sec = (System.nanoTime() - t0) / 1e9
        val rc = (got & truth).size.toDouble / truth.size
        println(f"n6 rerank=$r recall=$rc%.3f serve_wall=$sec%.1f s")
      }
      spark.stop(); return
    }

    val truth = pairs(Similarity.n1SimTopkBruteforce(spark, dir))
    println(s"n1 truth pairs: ${truth.size}")
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val auto = Similarity.n2AutoDial(n)
    println(s"n2 auto-dial for n=$n: planes=${auto._1} tables=${auto._2}")
    // "quick" second arg: only the auto-dial + n3/n4 (skip the grid)
    val dials = if (args.length > 1 && args(1) == "quick") Seq(auto)
      else (Seq((4, 4), (6, 4), (8, 4), (8, 8), (8, 12),
        (8, 16), (9, 8), (10, 6), (10, 8)) :+ auto).distinct
    for ((b, l) <- dials) {
      import org.apache.spark.sql.functions.{col, max, sum}
      val got = pairs(Similarity.n2Impl(spark, dir, b, l))
      val recall = (got & truth).size.toDouble / truth.size
      val bdf = Similarity.n2Buckets(spark, dir, b, l).cache()
      val sizes = bdf.groupBy("table_id", "bucket").count()
      val occ = sizes.agg(max("count")).head().getLong(0)
      // pre-distinct (query, member) comparisons — the join cost dial
      val cost = bdf.filter(col("vec_id") % 50 === 0)
        .join(sizes, Seq("table_id", "bucket"))
        .agg(sum("count")).head().getLong(0)
      bdf.unpersist()
      println(f"n2 planes=$b tables=$l recall=$recall%.3f " +
        f"maxBucket=$occ candCost=$cost")
    }
    val ivf = pairs(Similarity.n3SimIvfTopk(spark, dir))
    println(f"n3 ivf recall=${(ivf & truth).size.toDouble / truth.size}%.3f")
    val pq = pairs(Similarity.n4SimPqTopk(spark, dir))
    println(f"n4 pq recall=${(pq & truth).size.toDouble / truth.size}%.3f")
    val ivfpq = pairs(Similarity.n6SimIvfPqTopk(spark, dir))
    println(
      f"n6 ivfpq recall=${(ivfpq & truth).size.toDouble / truth.size}%.3f")
    spark.stop()
  }
}
