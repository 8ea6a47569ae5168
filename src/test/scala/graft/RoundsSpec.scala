package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Rounds.materialize mode contract: the reliable-checkpoint variant
  * (spark.graft.checkpoint.dir set) must produce BIT-IDENTICAL rows
  * to the default localCheckpoint mode for the iterative operators —
  * the opt-in only changes where round state is durable (executor
  * memory vs a reliable dir an executor loss cannot take down), never
  * a value. Both loops are integer/exact arithmetic, so this is a
  * hard equality, not a tolerance. */
class RoundsSpec extends SparkTestBase {

  private def withReliable[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-reliable-ck")
    spark.conf.set(ops.Rounds.CheckpointDirKey, dir.toString)
    try body(dir)
    finally {
      spark.conf.unset(ops.Rounds.CheckpointDirKey)
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("x34 pagerank: reliable checkpointing is value-identical and " +
      "actually writes round files") {
    val local = rows(ops.PageRank.x34PageRank(spark, sfSmoke))
    withReliable { dir =>
      val reliable = rows(ops.PageRank.x34PageRank(spark, sfSmoke))
      assert(reliable == local)
      // the rounds really went through the reliable path: the
      // checkpoint dir holds rdd-* subtrees (one per materialize)
      val walk = Files.walk(dir)
      val found =
        try walk.anyMatch(p =>
          p.getFileName.toString.startsWith("rdd-"))
        finally walk.close()
      assert(found, "no reliable checkpoint files were written")
    }
  }

  test("release drops a materialized round's RDD blocks (Dataset." +
      "unpersist would be a silent no-op on a checkpointed plan)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ck = ops.Rounds.materialize(
      Seq(1L, 2L, 3L).toDF("v").filter($"v" > 1))
    val created = sc.getPersistentRDDs.keySet -- before
    assert(created.nonEmpty, "materialize persisted no RDD blocks")
    ops.Rounds.release(ck)
    val after = sc.getPersistentRDDs.keySet
    assert(created.forall(id => !after.contains(id)),
      s"release left blocks resident: ${created.intersect(after)}")
  }

  test("d6 star contraction on the rounds path: reliable checkpointing " +
      "is value-identical and writes a file per round") {
    withStarCap(0) {
      val local = rows(dedup.Dedup.d6ClustersOf(spark, sfTest,
        dedup.Dedup.d2bDedupNgramCapped))
      withReliable { dir =>
        val reliable = rows(dedup.Dedup.d6ClustersOf(spark, sfTest,
          dedup.Dedup.d2bDedupNgramCapped))
        assert(reliable == local)
        // the edge set plus at least one round, each its own rdd-*
        val walk = Files.walk(dir)
        val written =
          try walk.filter(p => p.getFileName.toString.startsWith("rdd-"))
            .count()
          finally walk.close()
        assert(written >= 2, s"$written checkpoints: no round was written")
      }
    }
  }

  test("d6 star contraction: reliable checkpointing is value-identical") {
    val local = rows(dedup.Dedup.d6ClustersOf(spark, sfSmoke,
      dedup.Dedup.d2bDedupNgramCapped))
    withReliable { _ =>
      val reliable = rows(dedup.Dedup.d6ClustersOf(spark, sfSmoke,
        dedup.Dedup.d2bDedupNgramCapped))
      assert(reliable == local)
    }
  }
}
