package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload's passes in one JVM and writes what it measured as
  * JSON for `run.py`, which checks the outputs and prints the metrics.
  *
  * Usage: Main <workload> <seconds> <trace 0|1|2> <inputDir> <workDir>
  *   <result.json> <spans.jsonl>
  *
  * `trace` 0 is an untraced run; 1 and 2 are traced runs whose traced
  * later pass is the first or the second.
  *
  * Shape of a run:
  *  - set-up, [[SetupReps]] times: start a session, read every input
  *    once (warm-up); the last session stays open;
  *  - the first pass, in that session;
  *  - later passes until their walls add up to `seconds`, at least
  *    [[MinLaterPasses]] (a traced run: two); each in a fresh
  *    SparkSession, so that no memo keyed by applicationId can serve
  *    it, with its own temp directory, deleted after the pass;
  *  - the check phase, in the last pass's session once its timed ops
  *    are done: every checked output is dumped as parquet for `run.py`,
  *    and the pass's own submission CSV stays for it to read.
  *
  * A traced run has two later passes, one traced (full listener and
  * spans), one untraced, so the run measures its own tracing overhead.
  * Which comes first alternates from run to run (`run.py` picks it from
  * the seed), so JIT warm-up between the two does not always count for
  * or against tracing. The traced pass then runs the workload's
  * traced-only ops and their check dumps. Every pass counts jobs per op
  * for the memo guard. */
object Main {
  private val MinLaterPasses = 3
  private val SetupReps = 3
  private val FenceGroup = "perfbench-fence"

  private val cores = math.min(2, Runtime.getRuntime.availableProcessors)

  /** `wrote`: the op ended in its full-output write — one more noop
    * sink, or, for `submission`, its CSV directory. */
  final case class OpRun(op: Op, startMs: Long, sec: Double,
      error: Option[String], wrote: Boolean, storageBytes: Long)

  final case class Pass(index: Int, appId: String, traced: Boolean,
      wallSec: Double, ops: Seq[OpRun], tracedOps: Seq[OpRun],
      jobs: Map[String, Int], stages: Seq[StageStats])

  def newSession(dir: String): SparkSession = {
    new File(dir).mkdirs()
    // the library's store-backed ops put their scratch under tmpdir
    System.setProperty("java.io.tmpdir", dir)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs a throwaway job and waits until the listener has seen it end,
    * so every event of the jobs before it has been delivered. */
  private def fence(s: SparkSession, trace: Trace): Unit = {
    val sc = s.sparkContext
    sc.setJobGroup(FenceGroup, FenceGroup, false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(FenceGroup).foreach { id =>
      if (!trace.awaitJob(id, 60000))
        throw new IllegalStateException("listener bus did not drain")
    }
  }

  private def storageBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def runOp(s: SparkSession, op: Op, in: Inputs,
      traced: Boolean): OpRun = {
    val sc = s.sparkContext
    sc.setJobGroup(op.name, op.name, false)
    val sinksBefore = Workloads.sinks.get
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = scala.util.Try(op.run(s, in))
    val sec = (System.nanoTime() - t0) / 1e9
    val err = result.failed.toOption
      .map(e => s"${e.getClass.getName}: ${e.getMessage}")
    sc.clearJobGroup()
    val wrote =
      if (op == Workloads.submission) new File(in.submissionDir).isDirectory
      else Workloads.sinks.get == sinksBefore + 1
    println(f"perfbench: ${op.name}%s ${sec}%.3f s${err.fold("")(" FAILED " + _)}%s")
    OpRun(op, startMs, sec, err, wrote, if (traced) storageBytes(s) else 0L)
  }

  private def runPass(index: Int, s: SparkSession, wl: Workload,
      in: Inputs, traced: Boolean): Pass = {
    val trace = new Trace(traced)
    s.sparkContext.addSparkListener(trace)
    val t0 = System.nanoTime()
    val ops = wl.ops.map(runOp(s, _, in, traced))
    val wall = (System.nanoTime() - t0) / 1e9
    val extra = if (traced) wl.traced.map(runOp(s, _, in, traced)) else Nil
    fence(s, trace)
    s.sparkContext.removeSparkListener(trace)
    Pass(index, s.sparkContext.applicationId, traced, wall, ops, extra,
      trace.jobCounts - FenceGroup, trace.stages)
  }

  private def warmUp(s: SparkSession, dir: String): Unit =
    new File(dir).listFiles.sortBy(_.getName).foreach { f =>
      val df =
        if (f.getName.endsWith(".csv"))
          s.read.option("header", true).option("encoding", "UTF-8")
            .csv(f.getPath)
        else s.read.parquet(f.getPath)
      Workloads.sink(df)
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // --- JSON ----------------------------------------------------------

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  private def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  /** Per-op engine counters of a traced pass, from its stages. */
  private def counters(r: OpRun, stages: Seq[StageStats]): String = {
    val mine = stages.filter(_.op == r.op.name)
    val endMs = r.startMs + (r.sec * 1000).toLong
    // union of the op's stage intervals, clipped to the op's own
    val iv = mine.map(st => (math.max(st.start, r.startMs),
      math.min(st.end, endMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    obj(
      "stages" -> mine.size.toString,
      "gap_s" -> math.max(0.0, r.sec - covered / 1000.0).toString,
      "scan_rows" -> mine.map(_.inRecords).sum.toString,
      "scan_bytes" -> mine.map(_.inBytes).sum.toString,
      "run_s" -> (mine.map(_.runMs).sum / 1000.0).toString,
      "cpu_s" -> (mine.map(_.cpuNs).sum / 1e9).toString,
      "gc_s" -> (mine.map(_.gcMs).sum / 1000.0).toString,
      "shuffle_bytes" -> mine.map(_.shuffleBytes).sum.toString,
      "shuffle_records" -> mine.map(_.shuffleRecords).sum.toString,
      "skew" -> mine.map(_.skew).maxOption.getOrElse(1.0).toString,
      "spill_bytes" -> mine.map(_.spillBytes).sum.toString,
      "storage_bytes" -> r.storageBytes.toString)
  }

  private def opJson(r: OpRun, p: Pass): String = {
    val base = Seq(
      "name" -> q(r.op.name), "metric" -> q(r.op.metric),
      "sec" -> r.sec.toString,
      "jobs" -> p.jobs.getOrElse(r.op.name, 0).toString,
      "error" -> r.error.fold("null")(q),
      "wrote" -> r.wrote.toString)
    obj((if (p.traced) base :+ ("counters" -> counters(r, p.stages))
      else base): _*)
  }

  private def passJson(p: Pass): String = obj(
    "index" -> p.index.toString, "app_id" -> q(p.appId),
    "traced" -> p.traced.toString, "wall_s" -> p.wallSec.toString,
    "ops" -> arr(p.ops.map(opJson(_, p))),
    "traced_ops" -> arr(p.tracedOps.map(opJson(_, p))))

  /** Spans of the traced passes: pass → op → stage. */
  private def spans(ps: Seq[Pass]): Seq[String] = ps.filter(_.traced)
    .flatMap { p =>
      val pid = s"pass-${p.index}"
      val opSpans = (p.ops ++ p.tracedOps).flatMap { r =>
        val oid = s"$pid/${r.op.name}"
        obj("span" -> q(oid), "parent" -> q(pid), "kind" -> q("op"),
          "op" -> q(r.op.name), "start_ms" -> r.startMs.toString,
          "end_ms" -> (r.startMs + (r.sec * 1000).toLong).toString,
          "counters" -> counters(r, p.stages)) +:
          p.stages.filter(_.op == r.op.name).sortBy(_.start).map { st =>
            obj("span" -> q(s"$oid/stage-${st.stageId}"),
              "parent" -> q(oid), "kind" -> q("stage"),
              "op" -> q(r.op.name), "stage" -> q(st.stageId.toString),
              "start_ms" -> st.start.toString, "end_ms" -> st.end.toString,
              "tasks" -> st.taskMs.size.toString,
              "run_s" -> (st.runMs / 1000.0).toString,
              "cpu_s" -> (st.cpuNs / 1e9).toString,
              "shuffle_bytes" -> st.shuffleBytes.toString,
              "skew" -> st.skew.toString)
          }
      }
      obj("span" -> q(pid), "parent" -> "null", "kind" -> q("pass"),
        "app_id" -> q(p.appId), "wall_s" -> p.wallSec.toString) +: opSpans
    }

  // --- main ----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val Array(wlName, secondsArg, traceArg, inputDir, workDir, resultPath,
      spansPath) = args
    val wl = Workloads.all(wlName)
    val seconds = secondsArg.toDouble
    val tracedPass = traceArg.toInt
    val traced = tracedPass > 0
    def dir(name: String) = new File(workDir, name).getPath

    // set-up: session start + warm-up read of every input, repeated;
    // the last session serves the first pass
    var spark: SparkSession = null
    val setupSec = (1 to SetupReps).map { i =>
      if (spark != null) { spark.stop(); deleteTree(new File(dir(s"setup-${i - 1}"))) }
      val t0 = System.nanoTime()
      spark = newSession(dir(s"setup-$i"))
      warmUp(spark, inputDir)
      (System.nanoTime() - t0) / 1e9
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    passes += runPass(0, spark, wl,
      Inputs(inputDir, dir(s"setup-$SetupReps")), traced = false)
    // the later passes' own walls make up the measured `seconds`
    def measured = passes.drop(1).map(_.wallSec).sum
    def later = passes.size - 1
    def nextFits = {
      val walls = passes.drop(1).map(_.wallSec).sorted
      val typical = if (walls.isEmpty) passes.head.wallSec else walls(walls.size / 2)
      measured + typical <= seconds
    }
    var passDir = dir(s"setup-$SetupReps")
    val checkDir = dir("check")
    val dumped = mutable.ArrayBuffer.empty[Dump]
    val dumpErrors = mutable.ArrayBuffer.empty[String]
    val checkSec = mutable.ArrayBuffer.empty[(String, Double)]
    // check dumps run outside the timed passes, in the session of the
    // pass that ran their ops, so the ops' session memos serve them
    def dump(ds: Seq[Dump], in: Inputs): Unit = {
      ds.foreach { d =>
        val t0 = System.nanoTime()
        try d.run(spark, in).write.mode("overwrite")
          .parquet(s"$checkDir/${d.name}")
        catch { case e: Throwable =>
          dumpErrors += obj("name" -> q(d.name),
            "error" -> q(s"${e.getClass.getName}: ${e.getMessage}"))
        }
        checkSec += d.name -> (System.nanoTime() - t0) / 1e9
      }
      dumped ++= ds
    }
    def more = if (traced) later < 2 else later < MinLaterPasses || nextFits
    while (more) {
      val i = passes.size
      spark.stop()
      deleteTree(new File(passDir))
      System.gc()
      passDir = dir(s"pass-$i")
      spark = newSession(passDir)
      val pass = runPass(i, spark, wl, Inputs(inputDir, passDir),
        traced = i == tracedPass)
      if (pass.traced) dump(wl.tracedDumps, Inputs(inputDir, passDir))
      passes += pass
    }
    val rss = peakRssMb()
    val passesEndMs = System.currentTimeMillis()

    // the last pass's own submission CSV stays for run.py to check
    val in = Inputs(inputDir, passDir)
    dump(wl.dumps, in)
    val oracle = dumped.toSeq.flatMap(d => d.oracle.map(o =>
      d.name -> q(graft.SparkEntry.oracleSql(o))))
    spark.stop()

    if (traced) Files.write(Paths.get(spansPath),
      spans(passes.toSeq).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(Paths.get(resultPath), obj(
      "main_ms" -> mainMs.toString,
      "passes_end_ms" -> passesEndMs.toString,
      "done_ms" -> System.currentTimeMillis().toString,
      "cores" -> cores.toString,
      "setup_s" -> arr(setupSec.map(_.toString)),
      "passes" -> arr(passes.map(passJson)),
      "peak_rss_mb" -> rss.toString,
      "check_dump_s" -> obj(checkSec.map { case (n, t) => n -> t.toString }.toSeq: _*),
      "check_dir" -> q(checkDir),
      "submission_csv" -> q(in.submissionDir),
      "oracle" -> obj(oracle: _*),
      "dump_errors" -> arr(dumpErrors)).getBytes(UTF_8))
  }
}
