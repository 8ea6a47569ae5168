package graft.ops

import org.apache.spark.sql.SparkSession

/** Exchange-width policy for COMPUTE-DENSE stages (round 14).
  *
  * AQE's partition coalescing targets bytes, which is right for
  * byte-proportional work (sorts, scans, hash joins) and structurally
  * wrong for stages whose per-row cost dwarfs their row width: the
  * C(df,2) pair emission behind d2/d2b/d8/d12 (quadratic in list
  * length), and the IVF-PQ ADC scan behind n6/n7/n8 (cost =
  * queries × probes × cell size over 20 B/row codes). Measured at
  * gate SF: AQE squeezed d8's 17 MB pair exchange to 4 tasks holding
  * ~15 s of summed CPU while 28 cores idled (OPTIMIZATION_r14.md), and
  * would run the whole ADC scan in ONE task off a 105 KB code
  * exchange. Such exchanges repartition with an EXPLICIT count —
  * user-specified widths are final, AQE cannot coalesce them.
  *
  * The count is the session's configured PRE-coalesce width: the
  * `SPARK_GRAFT_AQE_INITIAL`-backed initialPartitionNum when set (the
  * sf1–sf10 ladder protocol dials it to 256), else the session
  * shuffle width (= cpu count under the bench contract). So the pin
  * only disables the byte-targeted SHRINK; the width itself still
  * scales with the deployment dial, and at ladder scale the pinned
  * exchanges are the ones AQE would have left wide anyway. */
object Exchanges {
  def sessionShuffleWidth(s: SparkSession): Int =
    s.conf.getOption(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .orElse(s.conf.getOption("spark.sql.shuffle.partitions"))
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(s.sparkContext.defaultParallelism)
}
