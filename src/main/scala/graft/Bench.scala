package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Headline benchmark: run every declarative `SparkEntry` query at
  * the given scale factor to its whole output and emit one JSON line
  * of per-query wall times plus the total.
  *
  * The timed action is Spark's `noop` sink, which computes every row
  * and column and writes nothing, unlike `count()`, which lets the
  * optimizer prune the columns away.
  *
  * A 200+-query one-JVM bench is NOT the production shape (one
  * pipeline per job is) — so between queries the harness actively
  * scrubs cross-query session state that a long session otherwise
  * accumulates: catalog-cached relations, forgotten RDD persists,
  * and GC-pending broadcasts. Without the scrub, late heavy queries
  * read multiples of their quiet-run cost because stale storage
  * blocks squat in the unified memory pool and turn their
  * sorts/joins spill-heavy (round-7 driver run: x34 at 25.6 s vs a
  * 3.9 s quiet band). Deliberately-shared session caches — the
  * pipeline kept/survived lists and the d6 cluster labels — are
  * `localCheckpoint(true)` DataFrames whose lineage is TRUNCATED,
  * so the scrub must not (and does not) unpersist them: dropping
  * their blocks would be unrecoverable, and their warm-reuse
  * semantics (x25 after x26, x39 after d6) are part of the measured
  * contract. (The BPE/IVF-PQ fit memos also persist across queries
  * but are DRIVER-LOCAL objects with no RDD blocks — immune to the
  * scrub by nature, not by registration in SessionCaches.)
  *
  * Per-stage evidence (spill, exchange bytes, task time) comes from
  * `perfbench --trace 1`, not from this harness.
  */
object Bench {

  /** Runs `queries` in order, each to its whole output after a
    * [[SessionCaches.scrub]] and under its name as the job
    * description. Returns each name with its wall seconds, or None
    * when the query threw (a failure records no time, so the total
    * counts completed queries only). */
  def run(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, Option[Double])] = {
    var sinceGc = 0
    queries.map { case (name, fn) =>
      SessionCaches.scrub(spark)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // the ContextCleaner reclaims broadcast/shuffle state only after
      // a driver GC: nudge one every 16 queries
      sinceGc += 1
      if (sinceGc >= 16) { System.gc(); sinceGc = 0 }
      name -> Option.when(ok)(sec)
    }
  }

  /** The result line: total seconds of the completed queries, the
    * failed names, every query's seconds (null when it failed) and the
    * scale-factor directory. Double's `toString` is locale-independent
    * (the f-interpolator renders a comma decimal point on de/fr
    * machines — invalid JSON). */
  def json(results: Seq[(String, Option[Double])], sfDir: String): String = {
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.fold("null")(_.toString)
    }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${results.flatMap(_._2).sum},""" +
      s""""unit":"sec","n_queries":${results.size},""" +
      s""""ok":${failed.isEmpty},"failed":${failed.mkString("[", ",", "]")},""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftExtensions.cores
    val spark = GraftExtensions.session(cpus,
      // the ContextCleaner's driver-GC default is 30 min — longer
      // than the whole bench, so weak-ref'd broadcast/shuffle state
      // would never be reclaimed mid-run without this
      "spark.cleaner.periodicGC.interval" -> "1min",
      // Let AQE size every exchange from the data instead of pinning
      // all shuffles at cpu count: stages start wide and coalesce
      // down to the advisory size, so a 35 GB sort (d2b's sf10
      // stop-filter — the REAL spiller the r12 ladder misattributed
      // to the pair agg) runs ~140 MB in-memory sorts while small
      // stages coalesce back to a handful of tasks. This is the
      // local stand-in for sizing shuffle.partitions to the corpus
      // on a real cluster. The dial is an env var because its right
      // value is a function of DATA SCALE, which the session cannot
      // know from compressed parquet bytes (ScaleUp replicas
      // dictionary-compress ~10×): the sf1–sf10 ladder protocol sets
      // 256; the default is cpu count because at gate SF the wide
      // dial's fan-out+planning tax lands on every one of 223 small
      // queries (measured ~30% on the dedup subset, d4 4.5 vs 2.0 s
      // cold — it was the r13 "degraded window" that no ambient-load
      // reading could explain).
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        sys.env.getOrElse("SPARK_GRAFT_AQE_INITIAL", cpus.toString),
      // ObjectHashAggregate (collect_list/typed Aggregators) falls
      // back to SORT-based aggregation after 128 distinct keys per
      // partition — a default that turns d2b's per-shingle doc-list
      // aggregate into a full sort of the exploded frame (measured
      // 47 GB spill at sf10). Env-gated like the AQE dial, and for
      // the same reason: at sf10 the 4M threshold is what keeps the
      // d2b list agg hash-mode (its state is bounded by each
      // partition's input share), but at gate SF it pins MILLIONS of
      // live per-key sketch buffers (x9 Misra-Gries, x52 KMV, x7/x50
      // vocab aggs) in hash mode that the 128-key fallback would
      // stream through a cheap small sort — measured 8–11× on
      // x9/x9b against the r12 record while the surface median sat
      // at ambient 1.45×. Ladder protocol sets 4194304 for sf3+.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_KEYS", "128"))
    // Warmup: touch the fact table once so session/codegen/parquet
    // reader startup is not charged to whichever query runs first.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Headline = every declarative query. The graft.ml.Models entries
    // are iterative model fits (CV loops, stepwise refits) — training
    // time, not query latency — so they are excluded by MEMBERSHIP in
    // that module (a name-prefix filter would also drop the m9_*
    // single-pass diagnostic aggregates, which DO belong here).
    // Sorted name order: deterministic run-to-run, so per-query
    // numbers are comparable across rounds and any shared-cache
    // "first consumer pays" cost lands on the same query every time.
    // SPARK_GRAFT_BENCH_ONLY: optional comma-separated key subset for
    // targeted scale campaigns.
    val only: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
        .map(s => s: String => Boolean)
        .getOrElse(_ => true)
    val headline = (SparkEntry.queries -- ml.Models.queries.keySet)
      .filter(kv => only(kv._1))
      .toSeq.sortBy(_._1)
    val results = run(spark, sfDir, headline)
    val line = json(results, sfDir)
    // a subset run must never overwrite the full artifact of record:
    // with SPARK_GRAFT_BENCH_ONLY set, the default output moves to a
    // distinct path; SPARK_GRAFT_BENCH_OUT overrides either. The path
    // is repo-relative (it resolves against the launch cwd), so any
    // checkout location works.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "BENCH_SUBSET.json"
      else "BENCH_FULL.json")
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    catch { case e: Throwable =>
      System.err.println(s"BENCH_FULL write failed: ${e.getMessage}")
    }
    spark.stop()
    if (results.exists(_._2.isEmpty)) sys.exit(1)
  }
}
