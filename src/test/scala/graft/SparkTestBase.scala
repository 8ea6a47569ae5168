package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM (suites share
  * it via getOrCreate — Spark session startup dominates test time). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftExtensions.session(4)

  val sfSmoke = "/root/testdata/sf0.001"
  val sfTest = "/root/testdata/sf0.01"

  /** Job ids started under `group` while `body` ran. A marker job in
    * its own group runs after `body`: the listener bus delivers events
    * in order, so once the marker is visible every job of `body` is. */
  def jobsOf[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "the marker job never reached the status tracker")
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Runs `body` with the broadcast threshold set so that
    * `Dedup.localFinishCap` is `cap`: star contraction finishes a
    * graph of at most `cap` edges on the driver and runs its rounds
    * above that (cap 0 turns broadcast off: every non-empty graph
    * takes the rounds). */
  def withStarCap[T](cap: Int)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, if (cap == 0) "-1" else (cap * 48L).toString)
    try {
      assert(dedup.Dedup.localFinishCap(spark) == cap)
      body
    } finally spark.conf.set(key, prev)
  }
}
