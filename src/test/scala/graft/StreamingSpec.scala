package graft

import org.apache.spark.sql.functions._
import graft.streaming.{DriftStream,
  CurationStream, EventStreams, FunnelStream, IdempotentSink,
  JoinMvStream, MvStream, QualityStream}
import graft.sources.SnapshotStore

/** Batch-parity of the Structured Streaming window aggregations: the
  * streaming twin over the same parquet must produce exactly the rows
  * of the batch query once all data is processed.
  *
  * Regenerated-testdata robustness (round-8 audit of the max-ts
  * flake class — an assertion is fragile iff it needs the corpus
  * maximum timestamp to fall conveniently relative to a window or
  * watermark boundary): window-agg parity runs in COMPLETE mode (no
  * watermark withholding); the one append-mode windowed test
  * (session_window) asserts suffix-tolerance instead of equality —
  * the r6 fix; stream-stream parity is an INNER join, which emits on
  * match rather than on watermark advance; dedup/curation/quality/
  * drift parity is per-row or forced single-batch; funnel state is
  * update-mode (every state change reaches the sink); WatermarkSpec
  * drives a synthetic fixture with hand-placed timestamps. No
  * assertion in this suite depends on where the generated corpus's
  * max ts lands. */
class StreamingSpec extends SparkTestBase {

  private def runToCompletion(df: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("funnel stream: per-user O(1) state machine == batch e5 counts") {
    val q = FunnelStream.funnelStream(spark, sfSmoke)
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_out").start()
    try q.processAllAvailable() finally q.stop()
    // latest stage per user (update mode may emit a row per batch)
    val streamed = spark.table("funnel_out")
      .groupBy("user_id").agg(max("stage").as("stage"))
    val counts = streamed
      .select(
        sum(when(col("stage") >= 1, 1).otherwise(0)).as("view"),
        sum(when(col("stage") >= 2, 1).otherwise(0)).as("click"),
        sum(when(col("stage") >= 3, 1).otherwise(0)).as("purchase"))
      .head()
    val batch = EventStreams.e5Funnel(spark, sfSmoke).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getLong(0) == batch("view") &&
      counts.getLong(1) == batch("click") &&
      counts.getLong(2) == batch("purchase"),
      s"stream $counts vs batch $batch")
  }

  test("tumbling window: streaming result == batch result") {
    val batch = EventStreams.e1StreamTumbling(spark, sfSmoke)
    val stream = runToCompletion(
      EventStreams.tumblingStream(spark, sfSmoke), "tumbling_out")
    assert(asSet(stream) == asSet(batch))
    assert(batch.count() > 0)
  }

  test("sliding window: streaming result == batch result") {
    val batch = EventStreams.e2StreamSliding(spark, sfSmoke)
    val stream = runToCompletion(
      EventStreams.slidingStream(spark, sfSmoke), "sliding_out")
    assert(asSet(stream) == asSet(batch))
    // every event lands in exactly 2 sliding windows
    val events = Tables.events(spark, sfSmoke).count()
    val windowed = batch.agg(sum("n_events")).head().getLong(0)
    assert(windowed == 2 * events)
  }

  test("session_window stream == batch e3b minus open tails") {
    val q = EventStreams.sessionWindowStream(spark, sfSmoke)
      .writeStream.outputMode("append").format("memory")
      .queryName("swin_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("swin_out")
    val batch = EventStreams.e3bSessionWindowBatch(spark, sfSmoke)
    // every emitted session is byte-identical to a batch session
    assert(streamed.except(batch).isEmpty,
      "streamed sessions must be a subset of batch sessions")
    // the global watermark (max ts − gap) may withhold a per-user
    // SUFFIX of trailing sessions — not necessarily just the final
    // one (a user whose last sessions all end near the corpus max is
    // data-dependent), so assert suffix-ness: every withheld session
    // starts after that user's last EMITTED session
    val missing = batch.except(streamed)
    val lastEmitted = streamed.groupBy("user_id")
      .agg(max("session_start_us").as("last_emitted_start"))
    val nonSuffix = missing.join(lastEmitted, Seq("user_id"), "left")
      .filter(col("last_emitted_start").isNotNull &&
        col("session_start_us") <= col("last_emitted_start"))
    assert(nonSuffix.isEmpty,
      "watermark may only withhold a per-user suffix of sessions")
    assert(streamed.count() > 0)
  }

  test("streaming dedup: redelivered events collapse to batch-distinct") {
    val q = EventStreams.dedupedStream(spark, sfSmoke).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val events = Tables.events(spark, sfSmoke)
    // input was doubled (self-union models an at-least-once source);
    // the deduped stream must carry each event_id exactly once
    assert(spark.table("dedup_out").count() == events.count())
    assert(spark.table("dedup_out")
      .select(countDistinct("event_id")).head().getLong(0)
      == events.count())
  }

  test("stream-stream interval join == batch inequality join") {
    val q = EventStreams.intervalJoinStream(spark, sfSmoke).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssjoin_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    // the canonical batch form is the oracle-gated e4 query
    val batch = EventStreams.e4IntervalJoin(spark, sfSmoke)
      .select("error_id", "click_id", "user_id")
    assert(batch.count() > 0)
    assert(asSet(spark.table("ssjoin_out")) == asSet(batch))
  }

  test("foreachBatch sink: replaying a batch id overwrites, never duplicates") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sink_replay").toString
    val batch = Tables.events(spark, sfSmoke)
      .select("event_id", "user_id", "event_type").limit(100)
    // the replay contract: same batchId, same data, invoked twice
    IdempotentSink.writeBatch(batch, 7L, tmp)
    IdempotentSink.writeBatch(batch, 7L, tmp)
    val out = IdempotentSink.readOutput(spark, tmp)
    assert(out.count() == 100, "replay must overwrite its own partition")
    assert(out.select(countDistinct("event_id")).head().getLong(0) == 100)
  }

  test("foreachBatch sink: end-to-end stream lands once; restart adds nothing") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_sink_e2e").toString
    val (outDir, ckpt) = (s"$base/out", s"$base/ckpt")
    def run(): Unit = {
      val q = IdempotentSink.start(
        Tables.eventsStream(spark, sfSmoke)
          .select("event_id", "user_id", "event_type"), outDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val expected = Tables.events(spark, sfSmoke).count()
    assert(IdempotentSink.readOutput(spark, outDir).count() == expected)
    // restart on the same checkpoint: source is exhausted, no new
    // batches, output unchanged
    run()
    val out = IdempotentSink.readOutput(spark, outDir)
    assert(out.count() == expected)
    assert(out.select(countDistinct("event_id")).head().getLong(0) == expected)
  }

  test("streaming curation == batch x6 when the corpus arrives in one batch") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_curation").toString
    val (outDir, ckpt) = (s"$base/out", s"$base/ckpt")
    val q = CurationStream.start(spark, sfSmoke, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    // one parquet file → one micro-batch → per-batch dedup is global
    // dedup, so the streamed output must equal the batch query exactly
    val streamed = IdempotentSink.readOutput(spark, outDir)
      .drop("batch_id")
    val batch = text.TextAnalysis.x6CorpusCuration(spark, sfSmoke)
    assert(batch.count() > 0)
    assert(asSet(streamed) == asSet(batch))
  }

  test("streaming expectations gate: clean+quarantine == batch, " +
      "quarantine lands exactly-once incl. replay") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_sgate").toString
    val (outDir, quarDir, ckpt) = (s"$base/out", s"$base/quar", s"$base/ckpt")
    val q = QualityStream.startGated(spark, sfSmoke, outDir, quarDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamedClean = IdempotentSink.readOutput(spark, outDir)
      .drop("batch_id")
    val streamedQuar = IdempotentSink.readOutput(spark, quarDir)
      .drop("batch_id")
    // batch twins through the IDENTICAL expectation set
    val docs = Tables.documents(spark, sfSmoke)
    val batchClean = text.TextAnalysis.repetitionProfile(
      text.TextAnalysis.mixtureFilter(graft.ops.Expectations.clean(
        docs, QualityStream.docExpectations)))
    val batchQuar = graft.ops.Expectations.quarantine(
        docs, QualityStream.docExpectations)
      .select(col("doc_id"), col("lang"),
        array_join(col("failed_expectations"), ",")
          .as("failed_expectations"))
    assert(batchQuar.count() > 0, "fixture must quarantine something")
    assert(asSet(streamedClean) == asSet(batchClean))
    assert(asSet(streamedQuar) == asSet(batchQuar))
    // exactly-once: no doc appears twice in quarantine, and a REPLAY
    // of a committed batch (the at-least-once delivery case) changes
    // nothing — the id-keyed overwrite absorbs it
    assert(streamedQuar.count() ==
      streamedQuar.select("doc_id").distinct().count())
    // materialize before rewriting: the overwrite deletes the very
    // files a lazy self-read would scan
    val replayed = spark.read.parquet(s"$quarDir/batch_id=0")
      .localCheckpoint(true)
    IdempotentSink.writeBatch(replayed, 0L, quarDir)
    val after = IdempotentSink.readOutput(spark, quarDir).drop("batch_id")
    assert(asSet(after) == asSet(batchQuar), "replay must be a no-op")
  }

  test("streaming quality gate == batch x14-filter + x15-profile") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_quality").toString
    val (outDir, ckpt) = (s"$base/out", s"$base/ckpt")
    val q = QualityStream.start(spark, sfSmoke, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = IdempotentSink.readOutput(spark, outDir)
      .drop("batch_id")
    // batch twin: x15 metrics over the x14-kept docs
    val kept = text.TextAnalysis.x14MixtureSample(spark, sfSmoke)
      .select("doc_id")
    val batch = text.TextAnalysis.x15Repetition(spark, sfSmoke)
      .join(kept, "doc_id")
    assert(batch.count() > 0)
    assert(asSet(streamed) == asSet(batch))
  }

  test("streaming MV: CDF batches fold to the recompute; replay and " +
      "out-of-order redelivery add nothing") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_mv").toString + "/state"
    val v0 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "seg", "bal")
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (4L, "c", 40.0))
      .toDF("id", "seg", "bal") // 2 moves a→b, 3 deleted, 4 inserted
    val empty = v0.filter(lit(false))
    // batch 0 = initial load as pure inserts; batch 1 = the churn
    MvStream.foldBatch(
      SnapshotStore.cdfChanges(empty, v0, "id"), 0L, root, "seg", "bal")
    MvStream.foldBatch(
      SnapshotStore.cdfChanges(v0, v1, "id"), 1L, root, "seg", "bal")
    def view(): Set[(String, Long, Double)] =
      MvStream.readView(spark, root).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Set(("a", 1L, 10.0), ("b", 1L, 20.0), ("c", 1L, 40.0))
    assert(view() == expected)
    assert(MvStream.appliedBatch(spark, root) == 1L)
    // the Structured Streaming recovery contract: same id, same data,
    // delivered again — the non-idempotent fold must detect and skip
    MvStream.foldBatch(
      SnapshotStore.cdfChanges(v0, v1, "id"), 1L, root, "seg", "bal")
    MvStream.foldBatch(
      SnapshotStore.cdfChanges(empty, v0, "id"), 0L, root, "seg", "bal")
    assert(view() == expected, "replayed batches must not double-apply")
    // state history is time-travelable: the view as of batch 0
    val asOf0 = SnapshotStore.readSnapshot(spark, root, Some(0L))
    assert(asOf0.agg(sum("n_rows")).head().getLong(0) == 3L)
  }

  test("streaming join-MV: tagged churn batches fold to the batch s25 " +
      "view; replay is structurally idempotent") {
    val dirBase = java.nio.file.Files
      .createTempDirectory("graft_jmv").toString
    val viewRoot = dirBase + "/view"
    val dimRoot = dirBase + "/dim"
    val sf = "/root/testdata/sf0.001"
    val a0 = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val b0 = Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment")
    val a1 = a0.filter(col("o_orderkey") % 97 =!= 5)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 2, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")))
      .union(a0.filter(col("o_orderkey") % 100 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + (1L << 40)))
    val b1 = b0.filter(col("c_custkey") % 199 =!= 11)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 50 === 7, "MACHINERY")
          .otherwise(col("c_mktsegment")))
      .union(b0.filter(col("c_custkey") % 150 === 0)
        .select((col("c_custkey") + (1L << 41)).as("c_custkey"),
          lit("FURNITURE").as("c_mktsegment")))
    def batchOf(fromA: org.apache.spark.sql.DataFrame,
        toA: org.apache.spark.sql.DataFrame,
        fromB: org.apache.spark.sql.DataFrame,
        toB: org.apache.spark.sql.DataFrame) =
      JoinMvStream.tagDim(
          SnapshotStore.keyedChanges(fromB, toB, "c_custkey"))
        .unionByName(JoinMvStream.tagFact(
          SnapshotStore.keyedChanges(fromA, toA, "o_orderkey")))
    // batch 0 = cold start (all inserts); batch 1 = the two-sided churn
    val load = batchOf(a0.filter(lit(false)), a0,
      b0.filter(lit(false)), b0)
    val churn = batchOf(a0, a1, b0, b1)
    JoinMvStream.foldBatch(load, 0L, viewRoot, dimRoot)
    JoinMvStream.foldBatch(churn, 1L, viewRoot, dimRoot)
    val batchView = graft.sources.SnapshotStore
      .s25IncrementalJoinMv(spark, sf)
    val streamed = JoinMvStream.readView(spark, viewRoot)
    assert(streamed.exceptAll(batchView).isEmpty &&
      batchView.exceptAll(streamed).isEmpty,
      "streamed view diverges from batch s25")
    assert(JoinMvStream.appliedBatch(spark, viewRoot) == 1L)
    // recovery-contract replay: same id, same data — metadata skip
    JoinMvStream.foldBatch(churn, 1L, viewRoot, dimRoot)
    assert(JoinMvStream.appliedBatch(spark, viewRoot) == 1L)
    // crash window: dim committed, view commit lost → the batch
    // re-folds in full; the absolute-value patches must reproduce the
    // same view (structural idempotence, not just guard idempotence)
    SnapshotStore.commit(SnapshotStore.read(spark, dimRoot), dimRoot)
    val before = streamed.collect().map(_.toString).sorted
    JoinMvStream.foldBatch(churn, 1L, viewRoot, dimRoot) // guard skips
    val forced = { // bypass the guard the way a lost view commit would
      val dA = churn.filter(col("side") === "fact")
        .select(col("change_type"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      val dB = churn.filter(col("side") === "dim")
        .select(col("change_type"), col("c_custkey"),
          col("c_mktsegment"))
      SnapshotStore.applyJoinDelta(
        JoinMvStream.readView(spark, viewRoot), dA, dB,
        SnapshotStore.read(spark, dimRoot))
    }
    assert(forced.collect().map(_.toString).sorted
      .sameElements(before), "re-fold of applied churn must be a no-op")
  }

  test("session windows: gaps over 30min split sessions") {
    import spark.implicits._
    val sessions = EventStreams.e3StreamSession(spark, sfSmoke)
    val users = Tables.events(spark, sfSmoke)
      .select(countDistinct("user_id")).head().getLong(0)
    assert(sessions.select(countDistinct("user_id")).head().getLong(0)
      == users)
    // session durations can never exceed the span of the data
    assert(sessions.filter($"duration_us" < 0).count() == 0)
    // event conservation
    val total = sessions.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sfSmoke).count())
  }
  // ——— crash injection (VERDICT r10 §6): a REAL StreamingQuery dies
  // between the sink write and the checkpoint commit, then restarts
  // from the checkpoint. This is the hard case the direct-replay
  // tests above can't reach: the torn first attempt is VISIBLE in
  // the store when the replay arrives.

  test("crash injection, IdempotentSink: a torn partial write is " +
      "overwritten by the checkpoint replay") {
    import org.apache.spark.sql.{Dataset, Row}
    val base = java.nio.file.Files
      .createTempDirectory("graft_crash_sink").toString
    val (outDir, ckpt) = (s"$base/out", s"$base/ckpt")
    val src = Tables.eventsStream(spark, sfSmoke)
      .select("event_id", "user_id", "event_type")
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    // first attempt: HALF the batch lands, then the job dies before
    // foreachBatch returns — so the checkpoint never commits batch 0
    val q1 = src.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (injected.compareAndSet(false, true)) {
          IdempotentSink.writeBatch(b.limit(10), id, outDir)
          throw new RuntimeException("injected crash after partial write")
        }
        IdempotentSink.writeBatch(b, id, outDir)
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    // the torn attempt is really on disk — the failure mode is live
    assert(IdempotentSink.readOutput(spark, outDir).count() == 10,
      "fixture: the partial write must be visible before restart")
    // restart from the same checkpoint: batch 0 replays (same id,
    // same data) and its id-keyed overwrite absorbs the torn attempt
    val q2 = src.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        IdempotentSink.writeBatch(b, id, outDir)
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    val out = IdempotentSink.readOutput(spark, outDir)
    val expected = Tables.events(spark, sfSmoke).count()
    assert(out.count() == expected)
    assert(out.select(countDistinct("event_id")).head().getLong(0)
      == expected)
  }

  test("crash injection, MvStream: state committed but checkpoint " +
      "lost — the replayed batch must not double-fold") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    val base = java.nio.file.Files
      .createTempDirectory("graft_crash_mv").toString
    val (root, ckpt, feedDir) =
      (s"$base/state", s"$base/ckpt", s"$base/feed")
    val v0 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "seg", "bal")
    val cdf = SnapshotStore.cdfChanges(v0.filter(lit(false)), v0, "id")
    cdf.write.parquet(feedDir)
    val feed = spark.readStream.schema(cdf.schema).parquet(feedDir)
    // crash AFTER the real fold committed the state table — the
    // OTHER side of the IdempotentSink window: state is durable,
    // the checkpoint offset commit is not
    val q1 = feed.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        MvStream.foldBatch(b, id, root, "seg", "bal")
        throw new RuntimeException("injected crash after state commit")
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(MvStream.appliedBatch(spark, root) == 0L,
      "fixture: the fold must have committed before the crash")
    val commitsBefore = SnapshotStore.snapshots(spark, root).size
    // restart: batch 0 replays into the production start() wiring;
    // the applied_batch guard must skip it WITHOUT a new state commit
    val q2 = MvStream.start(feed, root, ckpt, "seg", "bal")
    try q2.processAllAvailable() finally q2.stop()
    val view = MvStream.readView(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(view == Set(("a", 2L, 30.0), ("b", 1L, 30.0)),
      s"replay double-folded: $view")
    assert(SnapshotStore.snapshots(spark, root).size == commitsBefore,
      "replay must be metadata-only — no new state commit")
  }

  test("crash injection, JoinMvStream: view committed but checkpoint " +
      "lost — replay skips without re-folding or re-patching the dim") {
    import org.apache.spark.sql.{Dataset, Row}
    val base = java.nio.file.Files
      .createTempDirectory("graft_crash_jmv").toString
    val (viewRoot, dimRoot, ckpt, feedDir) =
      (s"$base/view", s"$base/dim", s"$base/ckpt", s"$base/feed")
    val sf = "/root/testdata/sf0.001"
    val a0 = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val b0 = Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment")
    val load = JoinMvStream.tagDim(
        SnapshotStore.keyedChanges(b0.filter(lit(false)), b0, "c_custkey"))
      .unionByName(JoinMvStream.tagFact(
        SnapshotStore.keyedChanges(a0.filter(lit(false)), a0,
          "o_orderkey")))
    load.write.parquet(feedDir)
    val feed = spark.readStream.schema(load.schema).parquet(feedDir)
    val q1 = feed.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        JoinMvStream.foldBatch(b, id, viewRoot, dimRoot)
        throw new RuntimeException("injected crash after view commit")
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(JoinMvStream.appliedBatch(spark, viewRoot) == 0L)
    val viewCommits = SnapshotStore.snapshots(spark, viewRoot).size
    val dimCommits = SnapshotStore.snapshots(spark, dimRoot).size
    val q2 = JoinMvStream.start(feed, viewRoot, dimRoot, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    // the view equals the cold-start join, exactly once
    val expect = a0.join(b0,
      a0("o_custkey") === b0("c_custkey")).count()
    assert(JoinMvStream.readView(spark, viewRoot).count() == expect)
    assert(SnapshotStore.snapshots(spark, viewRoot).size == viewCommits
      && SnapshotStore.snapshots(spark, dimRoot).size == dimCommits,
      "replay must be metadata-only on both the view and the mirror")
  }

  test("crash injection, HeavyHitterStream: MG state committed but " +
      "checkpoint lost — the replayed fold must no-op") {
    import org.apache.spark.sql.{Dataset, Row}
    import graft.streaming.HeavyHitterStream
    val base = java.nio.file.Files
      .createTempDirectory("graft_crash_hh").toString
    val (root, ckpt) = (s"$base/state", s"$base/ckpt")
    val src = Tables.documentsStream(spark, sfSmoke)
    val q1 = src.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        HeavyHitterStream.applyBatch(spark, b.toDF(), id, root, 64)
        throw new RuntimeException("injected crash after state commit")
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    val committed = SnapshotStore.read(spark, root)
      .select("token", "count_lb").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(committed.nonEmpty,
      "fixture: the fold must have committed before the crash")
    val commitsBefore = SnapshotStore.snapshots(spark, root).size
    // restart on the production wiring: batch 0 replays, the
    // applied_batch watermark must make the NON-idempotent MG fold
    // (prior + batch would double every count) a metadata-only skip
    val q2 = HeavyHitterStream.start(spark, sfSmoke, root, ckpt, 64)
    try q2.processAllAvailable() finally q2.stop()
    val after = SnapshotStore.read(spark, root)
      .select("token", "count_lb").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == committed, "replay double-folded the MG summary")
    assert(SnapshotStore.snapshots(spark, root).size == commitsBefore,
      "replay must be metadata-only — no new state commit")
  }

  test("crash injection, KmvStream: sketch state committed but " +
      "checkpoint lost — replay is a metadata-only skip") {
    import org.apache.spark.sql.{Dataset, Row}
    import graft.streaming.KmvStream
    import graft.ops.KmvSketch
    val base = java.nio.file.Files
      .createTempDirectory("graft_crash_kmv").toString
    val (root, ckpt) = (s"$base/state", s"$base/ckpt")
    val src = Tables.eventsStream(spark, sfSmoke)
      .select("event_type", "user_id")
    // crash AFTER the fold committed the state table: the durable
    // side is ahead of the checkpoint, the canonical torn window
    val q1 = src.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        KmvStream.foldBatch(spark, b.toDF(), id, root, KmvSketch.K)
        throw new RuntimeException("injected crash after state commit")
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    val committed = SnapshotStore.read(spark, root)
      .select("event_type", "sk").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(committed.nonEmpty,
      "fixture: the fold must have committed before the crash")
    val commitsBefore = SnapshotStore.snapshots(spark, root).size
    // restart on the production wiring: the replay must not even
    // rewrite the state (the fold is mathematically idempotent, but
    // the watermark owes us a metadata-only skip), and overlaps
    // served off the state must be unchanged
    val overlapsBefore = asSet(KmvStream.overlaps(spark, root,
      KmvSketch.K))
    val q2 = KmvStream.start(src, root, ckpt, KmvSketch.K)
    try q2.processAllAvailable() finally q2.stop()
    val after = SnapshotStore.read(spark, root)
      .select("event_type", "sk").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(after == committed, "replay rewrote the sketch state")
    assert(SnapshotStore.snapshots(spark, root).size == commitsBefore,
      "replay must be metadata-only — no new state commit")
    assert(asSet(KmvStream.overlaps(spark, root, KmvSketch.K))
      == overlapsBefore, "overlap estimates drifted across the crash")
  }

  test("crash injection, DecayedTrendStream: trend state committed " +
      "but checkpoint lost — the doubly non-idempotent fold must skip") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import graft.streaming.DecayedTrendStream
    val base = java.nio.file.Files
      .createTempDirectory("graft_crash_trend").toString
    val (root, ckpt, feedDir) = (s"$base/state", s"$base/ckpt",
      s"$base/feed")
    Seq.fill(4)("a").++(Seq.fill(2)("b")).toDF("token")
      .write.parquet(feedDir)
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType))))
      .parquet(feedDir)
    val q1 = feed.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        DecayedTrendStream.foldBatch(spark, b.toDF(), id, root, 64)
        throw new RuntimeException("injected crash after state commit")
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    def state(): Map[String, Double] = SnapshotStore.read(spark, root)
      .select("token", "decayed").as[(String, Double)].collect().toMap
    assert(state() == Map("a" -> 4.0, "b" -> 2.0),
      "fixture: the fold must have committed before the crash")
    val commitsBefore = SnapshotStore.snapshots(spark, root).size
    // restart on the production wiring: a re-fold would decay AND
    // re-add (state would read a -> 6.0, b -> 3.0) — the watermark
    // must make the replay a no-op with no new commit
    val q2 = DecayedTrendStream.start(feed, root, ckpt, 64)
    try q2.processAllAvailable() finally q2.stop()
    assert(state() == Map("a" -> 4.0, "b" -> 2.0),
      s"replay double-folded the decay recurrence: ${state()}")
    assert(SnapshotStore.snapshots(spark, root).size == commitsBefore,
      "replay must be metadata-only — no new state commit")
  }

  test("KMV stream: multi-batch fold == one-shot sketch; overlaps " +
      "serve off state == batch x52; replay is metadata-only") {
    import graft.streaming.KmvStream
    import graft.ops.KmvSketch
    val base = java.nio.file.Files
      .createTempDirectory("graft_kmvstream").toString
    val root = s"$base/state"
    val ev = Tables.events(spark, sfSmoke)
      .select("event_type", "user_id")
    // three disjoint batches partition the stream by user residue
    (0 to 2).foreach { b =>
      KmvStream.foldBatch(spark,
        ev.filter(pmod(col("user_id"), lit(3)) === b),
        b.toLong, root, KmvSketch.K)
    }
    // the fold algebra: bottom-k of unioned bottom-k's == bottom-k of
    // the whole stream, so overlaps off the state must equal the
    // batch x52 over the same events, bit for bit (after x52's Det
    // rounding)
    val streamed = KmvStream
      .overlaps(spark, root, KmvSketch.K)
      .select(col("type_a"), col("type_b"),
        graft.ops.Det.r4(col("d_a")).as("d_a"),
        graft.ops.Det.r4(col("d_b")).as("d_b"),
        graft.ops.Det.r4(col("d_union")).as("d_union"),
        graft.ops.Det.r4(col("d_intersect")).as("d_intersect"))
    val batch = KmvSketch.x52AudienceOverlap(spark, sfSmoke)
    assert(asSet(streamed) == asSet(batch),
      "incremental fold drifted from the one-shot sketch")
    // replay: metadata-only (the fold is even mathematically
    // idempotent, but the watermark must skip the rewrite entirely)
    val commits = SnapshotStore.snapshots(spark, root).size
    KmvStream.foldBatch(spark,
      ev.filter(pmod(col("user_id"), lit(3)) === 1), 1L, root,
      KmvSketch.K)
    assert(SnapshotStore.snapshots(spark, root).size == commits)
  }

  test("e6 plan shape: broadcast scalar attach, no cartesian, " +
      "decay fold over the bounded frame") {
    val df = EventStreams.e6DecayedTrend(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    // the max-day scalar attaches as a broadcast nested-loop over a
    // 1-row side, never a real cartesian of the data
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both aggregations are hash aggregates with partials
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"expected partial+final stages for both aggregates:\n$plan")
  }

  test("e6 decayed trend: stream fold == closed form bit-equal; " +
      "replay skips; real query runs off a checkpoint") {
    import spark.implicits._
    import graft.streaming.DecayedTrendStream
    val base = java.nio.file.Files
      .createTempDirectory("graft_trend").toString
    val root = s"$base/state"
    // planted 3-batch token stream, domain far under k -> EXACT fold
    def tokens(ts: (String, Int)*) =
      ts.flatMap { case (t, n) => Seq.fill(n)(t) }.toDF("token")
    DecayedTrendStream.foldBatch(spark,
      tokens("a" -> 4, "b" -> 2), 0L, root, 64)
    DecayedTrendStream.foldBatch(spark,
      tokens("a" -> 1, "c" -> 3), 1L, root, 64)
    DecayedTrendStream.foldBatch(spark,
      tokens("b" -> 2), 2L, root, 64)
    def state(): Map[String, Double] = SnapshotStore.read(spark, root)
      .select("token", "decayed").as[(String, Double)].collect().toMap
    // closed form sum c_b * 0.5^(2-b): a = 4*.25 + 1*.5 = 1.5,
    // b = 2*.25 + 2 = 2.5, c = 3*.5 = 1.5 — exact dyadic arithmetic,
    // so equality is ==, not a tolerance
    assert(state() == Map("a" -> 1.5, "b" -> 2.5, "c" -> 1.5))
    // replay of an applied batch: metadata-only skip (a re-fold
    // would BOTH decay and re-add — doubly non-idempotent)
    val commits = SnapshotStore.snapshots(spark, root).size
    DecayedTrendStream.foldBatch(spark,
      tokens("a" -> 1, "c" -> 3), 1L, root, 64)
    assert(state() == Map("a" -> 1.5, "b" -> 2.5, "c" -> 1.5))
    assert(SnapshotStore.snapshots(spark, root).size == commits)
    // the k-cap is decay-aware and deterministic: k=2 keeps the top
    // two by weight (b 2.5, then a/c tie at 1.5 -> token asc)
    def state2(r: String): Map[String, Double] =
      SnapshotStore.read(spark, r)
        .select("token", "decayed").as[(String, Double)].collect().toMap
    val root2 = s"$base/state2"
    DecayedTrendStream.foldBatch(spark,
      tokens("a" -> 4, "b" -> 2), 0L, root2, 64)
    DecayedTrendStream.foldBatch(spark,
      tokens("a" -> 1, "c" -> 3), 1L, root2, 64)
    DecayedTrendStream.foldBatch(spark,
      tokens("b" -> 2), 2L, root2, 2)
    assert(state2(root2) == Map("b" -> 2.5, "a" -> 1.5))
    // a REAL streaming query drives the same fold off a checkpoint
    val feedDir = s"$base/feed"
    tokens("x" -> 3, "y" -> 1).write.parquet(feedDir)
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType))))
      .parquet(feedDir)
    val root3 = s"$base/state3"
    val q = DecayedTrendStream.start(feed, root3, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(state2(root3) == Map("x" -> 3.0, "y" -> 1.0))
  }

  test("streaming drift monitor: one-batch PSI verdict == batch x28") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_drift").toString
    val q = DriftStream.start(spark, sfSmoke, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamed = IdempotentSink.readOutput(spark, s"$base/out")
      .drop("batch_id")
    val batch = text.TextAnalysis.x28DistributionDrift(spark, sfSmoke)
    assert(batch.count() == 2)
    assert(asSet(streamed) == asSet(batch))
  }
}
