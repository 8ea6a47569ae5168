package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Headline benchmark: run every declarative `SparkEntry` query at
  * the given scale factor and emit one JSON line of per-query wall
  * times plus the total.
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
  * Each query also records its execution-memory fingerprint
  * (spill, shuffle I/O, peak execution memory, post-scrub storage
  * residue) from a task-metrics listener, so a contended run is
  * diagnosable from the artifact (`BENCH_FULL.json`) instead of
  * needing a quiet re-run.
  */
object Bench {

  /** Task-metric totals since the last [[MetricsListener.drain]] —
    * attributed to the query that ran in between. The listener bus
    * is asynchronous, so a tail of events can land after the query's
    * action returns; attribution is therefore approximate at the
    * boundary (observability data, not the graded number). */
  private final class MetricsListener extends SparkListener {
    private val spillMem = new AtomicLong
    private val spillDisk = new AtomicLong
    private val shufRead = new AtomicLong
    private val shufWrite = new AtomicLong
    private val peakExec = new AtomicLong

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }

    /** (spillBytes, shuffleReadBytes, shuffleWriteBytes, peakExec) —
      * then reset for the next query. */
    def drain(): (Long, Long, Long, Long) = {
      val t = (spillMem.get + spillDisk.get, shufRead.get,
        shufWrite.get, peakExec.get)
      spillMem.set(0); spillDisk.set(0)
      shufRead.set(0); shufWrite.set(0); peakExec.set(0)
      t
    }
  }

  /** Window-quality self-label (the r11 verdict's adjudication
    * protocol, moved INTO the artifact so no human has to replay it
    * from BASELINE.md prose every round):
    *  - `d4`: this run's d4_dedup_simhash reading — the designated
    *    noise control (one fixed mid-weight query whose quiet-host
    *    band is empirically tight across rounds);
    *  - `d4_quiet_band`: that band; a reading above its ceiling
    *    means the HOST was contended, not that the code regressed;
    *  - `median_ratio_vs_prev`: median of per-query new/old over the
    *    queries shared with the PREVIOUS artifact at the same output
    *    path and scale factor (the band-shift protocol: a uniform
    *    shift is ambient noise, a lone spike is a suspect);
    *  - `io_seq_mbps` / `io_sync_iops`: the disk canary readings
    *    (see [[ioCanary]]) — the IO-side complement to the
    *    compute-side d4;
    *  - `in_band`: d4 ≤ ceiling AND median ratio ≤ 1.1 AND the disk
    *    canary at or above its configured floor (absent ratio or
    *    floor = the remaining checks alone);
    *  - `warn`: non-null human-readable flag when out of band — the
    *    artifact says "degraded window, adjudicate before believing
    *    per-query deltas" about itself. */
  private val D4Key = "d4_dedup_simhash"
  /** The d4 quiet band is HOST-SPECIFIC absolute seconds (calibrated
    * on the driver host across rounds 10–12); on another machine set
    * SPARK_GRAFT_D4_BAND="lo,hi" once from a few quiet runs —
    * otherwise every artifact there would permanently self-label
    * degraded and `in_band` would carry no information (r12 ADVICE). */
  private val D4QuietBand: (Double, Double) =
    sys.env.get("SPARK_GRAFT_D4_BAND").flatMap { s =>
      s.split(',') match {
        case Array(lo, hi) =>
          scala.util.Try((lo.trim.toDouble, hi.trim.toDouble)).toOption
        case _ => None
      }
    }.getOrElse((0.55, 0.70))
  private val MedianRatioCeiling = 1.1

  /** Disk canary, measured ONCE before any query: the d4 control is
    * pure compute, so it reads quiet while the lakehouse family
    * (snapshot writes, manifest fsyncs) runs 3–6× — exactly the r13
    * window signature (d4 0.712 with s20–s27 at 3–6× and a dd probe
    * confirming the disk). Two raw-FileChannel numbers so the
    * artifact can name WHICH resource degraded: sequential fsync
    * throughput (64 MB write + force) and small-sync latency (32 ×
    * 4 KB, force each — an IOPS proxy). Informational unless
    * SPARK_GRAFT_IO_FLOOR="seq_mbps,sync_iops" is set, in which case
    * readings below either floor mark the window degraded; no
    * host-baked constant (the r12 ADVICE lesson — a wrong built-in
    * band makes the label permanently meaningless on other hosts). */
  private def ioCanary(): (Double, Double) = {
    import java.nio.ByteBuffer
    import java.nio.file.{Files, StandardOpenOption => O}
    val f = Files.createTempFile("graft_iocanary", ".bin")
    try {
      val buf = ByteBuffer.allocateDirect(1 << 20)
      var ch = java.nio.channels.FileChannel.open(f, O.WRITE)
      val t0 = System.nanoTime()
      var i = 0
      while (i < 64) {
        buf.clear(); buf.limit(1 << 20)
        while (buf.hasRemaining) ch.write(buf)
        i += 1
      }
      ch.force(true); ch.close()
      val seqMbps = 64.0 / ((System.nanoTime() - t0) / 1e9)
      ch = java.nio.channels.FileChannel.open(f, O.WRITE)
      val small = ByteBuffer.allocateDirect(4096)
      val t1 = System.nanoTime()
      i = 0
      while (i < 32) {
        small.clear(); small.limit(4096)
        ch.position(i.toLong * 4096)
        while (small.hasRemaining) ch.write(small)
        ch.force(false)
        i += 1
      }
      ch.close()
      val syncIops = 32.0 / ((System.nanoTime() - t1) / 1e9)
      (seqMbps, syncIops)
    } finally Files.deleteIfExists(f)
  }
  private val IoFloor: Option[(Double, Double)] =
    sys.env.get("SPARK_GRAFT_IO_FLOOR").flatMap { s =>
      s.split(',') match {
        case Array(a, b) =>
          scala.util.Try((a.trim.toDouble, b.trim.toDouble)).toOption
        case _ => None
      }
    }

  private def controlJson(
      results: Seq[(String, Option[Double], (Long, Long, Long, Long, Long))],
      sfDir: String, out: String, io: (Double, Double)): String = {
    val d4 = results.collectFirst { case (D4Key, Some(t), _) => t }
    // previous artifact at the same path AND scale factor: the
    // reference for the median per-query ratio. Regex-parsed (the
    // format is this file's own output — flat doubles, no nesting
    // inside the "queries" object).
    val prev: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get(out))
        val sfOk = """"sf":"([^"]*)"""".r.findFirstMatchIn(txt)
          .exists(_.group(1) == sfDir)
        if (!sfOk) Map.empty
        else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
          .map(_.group(1).split(',').toSeq.flatMap { kv =>
            kv.split(':') match {
              case Array(k, v) if v != "null" =>
                scala.util.Try(
                  k.replace("\"", "") -> v.toDouble).toOption
              case _ => None
            }
          }.toMap).getOrElse(Map.empty)
      } catch { case _: Throwable => Map.empty }
    val ratios = results.collect {
      case (k, Some(t), _) if prev.getOrElse(k, 0.0) > 0.0 =>
        t / prev(k)
    }.sorted
    val medianRatio =
      if (ratios.isEmpty) None
      else Some(ratios(ratios.size / 2))
    // a subset run that omitted the control query can't be labeled:
    // in_band goes null, not a vacuous true (r12 verdict task 6)
    val d4Included = results.exists(_._1 == D4Key)
    val d4Ok = d4.forall(_ <= D4QuietBand._2)
    val ratioOk = medianRatio.forall(_ <= MedianRatioCeiling)
    val ioOk = IoFloor.forall { case (seqF, iopsF) =>
      io._1 >= seqF && io._2 >= iopsF }
    val ioWarn =
      if (ioOk) None
      else Some(f"disk canary below floor (seq ${io._1}%.0f MB/s, " +
        f"sync ${io._2}%.0f io/s vs floor ${IoFloor.get._1}%.0f," +
        f"${IoFloor.get._2}%.0f) — IO-side degradation: compute " +
        "controls can read quiet while write-heavy queries inflate")
    val warn: Option[String] =
      (d4, medianRatio) match {
        case _ if !d4Included => Some(
          "no d4 control in this run's subset — window quality " +
            "unlabeled; include d4_dedup_simhash in " +
            "SPARK_GRAFT_BENCH_ONLY for a self-labeling ladder point")
        case _ if d4Ok && ratioOk => None
        case (Some(v), _) if !d4Ok && ratioOk => Some(
          f"degraded window: d4 control $v%.3f above quiet ceiling " +
            f"${D4QuietBand._2}%.2f — host contention, adjudicate " +
            "before reading per-query deltas")
        case (_, Some(r)) if d4Ok && !ratioOk => Some(
          f"degraded window: median per-query ratio $r%.2f vs " +
            f"previous artifact above $MedianRatioCeiling%.1f")
        case _ => Some(
          f"degraded window: d4 control ${d4.getOrElse(-1.0)}%.3f " +
            f"and median ratio ${medianRatio.getOrElse(-1.0)}%.2f " +
            "both out of band — treat every per-query delta as noise")
      }
    // locale-fixed rendering (no f-interpolator in the JSON itself)
    def num(d: Double): String = (math.round(d * 1000) / 1000.0).toString
    val inBand =
      if (!d4Included) "null" else (d4Ok && ratioOk && ioOk).toString
    val fullWarn = (warn, ioWarn) match {
      case (Some(a), Some(b)) => Some(s"$a; $b")
      case (a, b)             => a.orElse(b)
    }
    s"""{"d4":${d4.fold("null")(num)},""" +
      s""""d4_quiet_band":[${D4QuietBand._1},${D4QuietBand._2}],""" +
      s""""io_seq_mbps":${num(io._1)},""" +
      s""""io_sync_iops":${num(io._2)},""" +
      s""""median_ratio_vs_prev":${medianRatio.fold("null")(num)},""" +
      s""""n_shared_queries":${ratios.size},""" +
      s""""in_band":$inBand,""" +
      fullWarn.fold(""""warn":null""")(
        w => s""""warn":${Verify.q(w)}""") + "}"
  }

  // Cross-query scrub: SessionCaches.scrub drops catalog caches and
  // every persistent RDD EXCEPT the registered session caches
  // (kept-list, cluster labels) — including dead single-query
  // checkpoints, which an isCheckpointed predicate could not
  // distinguish from the deliberate ones and which otherwise
  // accumulate in the protected storage pool for the whole run.

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
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // Warmup: touch the fact table once so session/codegen/parquet
    // reader startup is not charged to whichever query runs first.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Disk canary before any query so the reading reflects the
    // window, not the bench's own write pressure.
    val io = ioCanary()
    // Headline = every declarative query. The graft.ml.Models entries
    // are iterative model fits (CV loops, stepwise refits) — training
    // time, not query latency — so they are excluded by MEMBERSHIP in
    // that module (a name-prefix filter would also drop the m9_*
    // single-pass diagnostic aggregates, which DO belong here).
    // Sorted name order: deterministic run-to-run, so per-query
    // numbers are comparable across rounds and any shared-cache
    // "first consumer pays" cost lands on the same query every time.
    // SPARK_GRAFT_BENCH_ONLY: optional comma-separated key subset for
    // targeted scale campaigns (the default output path moves to
    // BENCH_SUBSET.json in that mode, so a subset can never clobber
    // the full artifact of record).
    val only: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
        .map(s => s: String => Boolean)
        .getOrElse(_ => true)
    val headline = (SparkEntry.queries -- ml.Models.queries.keySet)
      .filter(kv => only(kv._1))
      .toSeq.sortBy(_._1)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    var sinceGc = 0
    // A failed query records null (not its time-to-failure) so the
    // headline total only reflects COMPLETED queries.
    val results: Seq[(String, Option[Double], (Long, Long, Long, Long, Long))] =
      headline.map { case (name, fn) =>
        val storageAfterScrub = SessionCaches.scrub(spark)
        // guide §1.5: label the jobs so a UI/event-log read of a bench
        // run attributes stages to queries without guesswork
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              failed += name
              System.err.println(s"BENCH FAIL $name: ${e.getMessage}")
              false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        val (spill, sr, sw, peak) = metrics.drain()
        // a spilling query is the signal that memory is tight NOW:
        // force the cleaner's GC immediately instead of waiting for
        // the periodic tick; otherwise nudge it every 16 queries
        sinceGc += 1
        if (spill > (128L << 20) || sinceGc >= 16) {
          System.gc(); sinceGc = 0
        }
        (name, if (ok) Some(sec) else None,
          (spill, sr, sw, peak, storageAfterScrub))
      }
    val qs = results.map { case (k, v, _) =>
      s"\"" + k + "\":" + v.fold("null")(_.toString)
    }.mkString("{", ",", "}")
    // locale-independent: the f-interpolator uses the JVM default
    // locale, which renders a comma decimal point on de/fr machines —
    // invalid JSON
    def mb(b: Long): String =
      (math.round(b / 1048576.0 * 10) / 10.0).toString
    val qm = results.map { case (k, _, (spill, sr, sw, peak, res)) =>
      s"""\"$k\":{"spill_mb":${mb(spill)},"shuffle_read_mb":${mb(sr)},""" +
        s""""shuffle_write_mb":${mb(sw)},"peak_exec_mb":${mb(peak)},""" +
        s""""storage_resident_mb":${mb(res)}}"""
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // a subset run must NEVER silently clobber the full artifact of
    // record (and then poison the next full run's median ratio): with
    // SPARK_GRAFT_BENCH_ONLY set, the default output moves to a
    // distinct path; SPARK_GRAFT_BENCH_OUT still overrides (r12
    // ADVICE)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "BENCH_SUBSET.json"
      else "BENCH_FULL.json")
    val control = controlJson(results, sfDir, out, io)
    val head = s""""metric":"total","value":$total,"unit":"sec"""" +
      s""","n_queries":${results.size},"ok":${failed.isEmpty}""" +
      s""","failed":$failedJson,"control":$control""" +
      s""","queries":$qs,"sf":"$sfDir""""
    // stdout stays the compact driver contract (the sbt-stdout tail
    // the driver snapshots truncates long lines — r4 lost 34 of 101
    // per-query numbers that way)...
    println(s"{$head}")
    // ...while the full artifact adds the per-query memory
    // fingerprint and lands in a repo file that survives the round.
    // Repo-relative default (resolves against the launch cwd) so any
    // checkout location works; SPARK_GRAFT_BENCH_OUT overrides.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"""{$head,"query_metrics":$qm}""")
    catch { case e: Throwable =>
      System.err.println(s"BENCH_FULL write failed: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
