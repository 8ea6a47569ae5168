package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of the DELIBERATE cross-query session caches (the
  * pipeline's survivors/kept-list, d6 cluster labels) so harnesses
  * that scrub session state between queries ([[Bench]]) can tell
  * them apart from DEAD single-query checkpoints.
  *
  * Why the distinction matters: `localCheckpoint(true)` both
  * materializes blocks AND truncates lineage, so a checkpointed RDD
  * can never be recomputed — a scrub must not drop one that a later
  * query will read (the session caches), but SHOULD drop the ones
  * whose only consumer already ran (x48's count table, d2b's tiles,
  * PageRank's round vectors): left alone they accumulate in the
  * protected `storageFraction` of the unified pool for the rest of a
  * long session — the stale-storage contention that inflated the
  * round-7 driver bench 1.6×. An `isCheckpointed` predicate cannot
  * make this call (both kinds are checkpointed); membership in this
  * registry is the explicit signal.
  *
  * [[pin]] is best-effort about attribution (the before/after diff
  * of persistent-RDD ids can over-pin under concurrent persists —
  * over-pinning just means that RDD is treated like the pre-scrub
  * world treated everything), and nothing here is load-bearing for
  * correctness: a pinned entry that is never read again costs its
  * blocks, an unpinned session cache would only fail a later read
  * in the SAME harness that scrubs — production pipelines never
  * call [[scrub]]. */
object SessionCaches {

  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Eagerly localCheckpoint `df` and register its materialized
    * blocks as a protected session cache. Drop-in for the
    * `plan.localCheckpoint(true)` idiom at cache-init sites. */
  def pin(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ck = df.localCheckpoint(true)
    (sc.getPersistentRDDs.keySet -- before).foreach(pinned.add(_))
    ck
  }

  /** Drop cross-query state a long multi-query session accumulates:
    * catalog-cached relations (recompute lazily — safe) and every
    * persistent RDD not pinned above, including dead single-query
    * checkpoints. */
  def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned.contains(id)) rdd.unpersist(blocking = true)
    }
  }
}
