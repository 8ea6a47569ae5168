package graft.tools

import graft.{GraftExtensions, SparkEntry}

/** Dev tool: dump formatted physical plans for a set of queries so
  * pushdown / broadcast / codegen can be audited (`runMain
  * graft.tools.ExplainAudit <sfDir> <name...>`). Not part of the
  * driver contract. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("f1_filter_eq", "g1_agg_sum", "j1_join_facts",
        "j2_join_dims", "j3_anti_join", "v1_pivot", "o2_limit",
        "e1_stream_tumbling", "d2_dedup_ngram_jaccard",
        "j5_asof_join", "j6_range_join", "x6_corpus_curation",
        "x7_token_vocab", "g14_rollup", "w1_running_window")
    val spark = GraftExtensions.session(GraftExtensions.cores)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
