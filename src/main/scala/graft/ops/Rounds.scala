package graft.ops

import org.apache.spark.sql.DataFrame

/** Per-round materialization for iterative operators (x34 PageRank,
  * d6 star contraction): each round's state must be an ACTION-safe
  * cut point — the next round runs scalar actions (dangling-mass
  * sums, convergence counts) against it, and an un-materialized plan
  * would replay every earlier round inside each action (quadratic in
  * the iteration count).
  *
  * Two modes, selected by the session conf key
  * [[Rounds.CheckpointDirKey]]:
  *
  *  - UNSET (default): `localCheckpoint(true)` — blocks live in
  *    executor memory/disk. Right for local[*] and for clusters
  *    where re-running the query on executor loss is acceptable
  *    (the blocks are NOT recomputable: lineage is truncated).
  *  - SET to a path: RELIABLE `checkpoint(true)` into that
  *    directory (HDFS/object store on a real cluster). An executor
  *    loss mid-iteration then costs a file re-read, not the query —
  *    the 100×-scale-honest variant for long fixpoint loops on
  *    preemptible fleets. Same arithmetic, same results: both modes
  *    materialize the identical rows (RoundsSpec pins equal output
  *    hashes for x34 and d6 across modes).
  *
  * [[release]] drops the PREVIOUS round's materialized blocks once
  * the next round's cut point exists — without it a k-round loop
  * holds all k generations' blocks until query end (the x34
  * driver-band finding, VERDICT r8): only the latest generation is
  * ever read again, so the residency is pure waste. Reliable
  * checkpoints keep their files (cleaned by Spark only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints`); release
  * still drops any cached blocks and is harmless there. */
object Rounds {

  /** Session conf key: when set, iterative rounds checkpoint
    * RELIABLY into this directory instead of localCheckpoint. */
  val CheckpointDirKey = "spark.graft.checkpoint.dir"

  /** One setCheckpointDir per (context, requested dir): Spark stores
    * a scheme-qualified path with a per-call random subdirectory, so
    * `getCheckpointDir.contains(dir)` can never serve as the
    * idempotence check — every call would re-set and scatter round
    * files across fresh UUID dirs (review finding r9). */
  private val checkpointDirSet =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Materialize one round's state eagerly and truncate lineage —
    * local or reliable per the session conf (see object doc). */
  def materialize(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(CheckpointDirKey) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = s.sparkContext
        if (checkpointDirSet.add((sc.applicationId, dir)))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }
  }

  /** Drop a superseded round's materialized blocks. Call only after
    * the NEXT round's materialize returned — a localCheckpoint's
    * blocks are unrecoverable once dropped.
    *
    * This must reach the RDD, not the Dataset: `Dataset.unpersist`
    * only uncaches CacheManager-tracked InMemoryRelations, and a
    * checkpointed Dataset's blocks are persisted at the RDD layer
    * under a LogicalRDD plan — `ds.unpersist` on one is a silent
    * no-op (review finding r9, verified against Spark 4.1.2:
    * getPersistentRDDs kept the entry after ds.unpersist). So
    * release pattern-matches the materialized plan's LogicalRDD and
    * frees its RDD's blocks directly; RoundsSpec pins that the
    * persistent-RDD entry is actually gone. For a RELIABLE
    * checkpoint the RDD holds no blocks and this is harmless.
    *
    * The blocks go through `GraftSqlShims.unpersistRDD`, not
    * `RDD.unpersist`: the latter logs a WARN on every locally
    * checkpointed RDD, whose lineage is gone — which is exactly the
    * intended case here. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.GraftSqlShims.unpersistRDD(lr.rdd)
      case _ => ()
    }
}
