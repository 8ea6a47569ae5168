package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.dedup.Dedup
import org.scalacheck.rng.Seed

/** Property tests promised in SURVEY §5: the dedup-before-aggregate
  * invariant (§1.4), pivot∘unpivot identity on fixed band lists, and
  * the deterministic-rounding contract. ScalaCheck generators are
  * driven through fixed seeds (the scalatest-scalacheck bridge isn't
  * in the offline cache) — 10 generated cases per property, each a
  * real Spark job. */
class PropertySpec extends SparkTestBase {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default.withSize(30), Seed(seed))
      .getOrElse(sys.error(s"gen failed for seed $seed"))

  private val rowsGen: Gen[List[(String, Int, Double)]] =
    Gen.nonEmptyListOf(for {
      key <- Gen.oneOf("k1", "k2", "k3", "k4")
      band <- Gen.choose(1, 5)
      v <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (key, band, v))

  test("dedup-before-agg: aggregating the deduped grain never double-counts") {
    (1L to 10L).foreach { seed =>
      val rows = sample(rowsGen, seed)
      import spark.implicits._
      // denormalized: complex-level value repeated on every unit row
      val complexLevel = rows.map { case (k, _, _) => k }.distinct
        .map(k => k -> k.length * 100.0).toMap
      val denorm = rows.map { case (k, b, v) =>
        (k, b, v, complexLevel(k)) }
        .toDF("key", "band", "v", "complex_value")
      val naive = denorm.agg(sum("complex_value")).head().getDouble(0)
      val deduped = denorm.select("key", "complex_value").distinct()
        .agg(sum("complex_value")).head().getDouble(0)
      val expected = complexLevel.values.sum
      assert(math.abs(deduped - expected) < 1e-9, s"seed $seed")
      if (rows.groupBy(_._1).exists(_._2.size > 1))
        assert(naive > deduped, s"seed $seed: naive must over-count")
    }
  }

  test("pivot then unpivot restores the long form on a fixed band list") {
    (1L to 10L).foreach { seed =>
      val rows = sample(rowsGen, seed)
      import spark.implicits._
      val bands = 1 to 5
      val long = rows.toDF("key", "band", "v")
        .groupBy("key", "band").agg(sum("v").as("v"))
      val wide = long.groupBy("key").pivot("band", bands).sum("v")
        .na.fill(0.0, bands.map(_.toString))
      val back = wide.unpivot(Array(col("key")),
        bands.map(b => col(s"$b")).toArray, "band", "v")
        .filter(col("v") =!= 0.0)
        .select(col("key"), col("band").cast("int").as("band"), col("v"))
      val nonZero = long.filter(col("v") =!= 0.0)
      assert(nonZero.exceptAll(back).count() == 0, s"seed $seed")
      assert(back.exceptAll(nonZero).count() == 0, s"seed $seed")
    }
  }

  test("Det.r is scale-exact: rounding a 2-decimal value at 2 digits is identity") {
    val centsGen = Gen.choose(-100000000, 100000000)
    import spark.implicits._
    val cents = (1L to 20L).map(seed => sample(centsGen, seed))
    val got = cents.map(_ / 100.0).toDF("x")
      .select(col("x"), ops.Det.r2(col("x")).as("r"))
      .collect()
    got.foreach(r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"Det.r2(${r.getDouble(0)}) = ${r.getDouble(1)}"))
  }

  test("z-value is a bijection on 16-bit pairs and preserves box locality") {
    import spark.implicits._
    val pairGen = Gen.listOfN(200, for {
      x <- Gen.choose(0L, 65535L)
      y <- Gen.choose(0L, 65535L)
    } yield (x, y))
    (1L to 5L).foreach { seed =>
      val pairs = sample(pairGen, seed).distinct
      val df = pairs.toDF("x", "y")
        .select(col("x"), col("y"),
          graft.sources.ZOrder.zValue(col("x"), col("y")).as("z"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      // injective: distinct pairs → distinct curve positions
      assert(df.map(_._2).distinct.length == pairs.length, s"seed $seed")
      // invertible: de-interleaving the bits recovers (x, y)
      df.foreach { case ((x, y), z) =>
        var rx = 0L; var ry = 0L
        (0 until 16).foreach { b =>
          rx |= ((z >>> (2 * b)) & 1L) << b
          ry |= ((z >>> (2 * b + 1)) & 1L) << b
        }
        assert(rx == x && ry == y, s"seed $seed: z=$z")
      }
    }
  }

  test("packing invariants hold for arbitrary token-count distributions") {
    import spark.implicits._
    val docsGen = Gen.nonEmptyListOf(Gen.choose(1L, 700L))
    (1L to 10L).foreach { seed =>
      val tokens = sample(docsGen, seed)
      val docs = tokens.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "n_tokens")
      val packed = graft.text.SequencePacking
        .packSequences(docs, maxTokens = 512, numParts = 3).collect()
      // every doc exactly once
      assert(packed.map(_.getLong(0)).sorted.toSeq ==
        (0L until tokens.length).toSeq, s"seed $seed")
      // bins respect the budget unless flagged oversize
      packed.groupBy(_.getLong(2)).foreach { case (binId, rows) =>
        val oversize = rows.exists(_.getBoolean(3))
        val fill = rows.map(_.getLong(1)).sum
        if (oversize)
          assert(rows.length == 1, s"seed $seed bin $binId mixes oversize")
        else
          assert(fill <= 512, s"seed $seed bin $binId overflows: $fill")
      }
    }
  }

  test("snapshot-store state machine: 40 random verb interleavings " +
      "preserve the reference model and time travel") {
    import scala.collection.mutable
    import graft.sources.SnapshotStore
    val root = java.nio.file.Files
      .createTempDirectory("graft_prop_store").toString + "/t"
    val rnd = new scala.util.Random(42)
    def rows(n: Int): Seq[(Long, Double)] =
      (0 until n).map(_ => (rnd.nextInt(50).toLong,
        (rnd.nextInt(1000) + 1).toDouble))
    def df(r: Seq[(Long, Double)]) = {
      import spark.implicits._
      r.toDF("id", "v")
    }
    var model: Seq[(Long, Double)] = Nil
    val snapHist = mutable.Map.empty[Long, Seq[(Long, Double)]]
    def readModel(): Seq[(Long, Double)] =
      SnapshotStore.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def syncNewIds(): Unit =
      SnapshotStore.snapshots(spark, root)
        .filterNot(snapHist.contains).foreach(snapHist(_) = model)
    SnapshotStore.commit(df(rows(5).appended((99L, 1.0))), root)
    model = readModel(); snapHist.clear(); syncNewIds()
    for (step <- 1 to 40) {
      rnd.nextInt(6) match {
        case 0 => // overwrite commit
          val r = rows(3 + rnd.nextInt(5))
          SnapshotStore.commit(df(r), root); model = r
        case 1 => // append
          val r = rows(1 + rnd.nextInt(4))
          SnapshotStore.appendCommit(df(r), root); model = model ++ r
        case 2 => // merge-on-read delete
          val k = 2 + rnd.nextInt(4); val res = rnd.nextInt(k)
          SnapshotStore.deleteWhere(spark, root, col("id") % k === res)
          model = model.filterNot(t => t._1 % k == res)
        case 3 => // compaction: content-invariant
          SnapshotStore.compact(spark, root, targetBytes = 1L << 16)
        case 4 => // restore to a random LIVE snapshot
          val live = SnapshotStore.snapshots(spark, root)
          val to = live(rnd.nextInt(live.length))
          SnapshotStore.restore(spark, root, to)
          model = snapHist(to)
        case 5 => // vacuum: live content invariant, history truncated
          val keep = 1 + rnd.nextInt(3)
          SnapshotStore.vacuum(spark, root, keepLast = keep, minAgeMs = 0)
          val live = SnapshotStore.snapshots(spark, root).toSet
          snapHist.filterInPlace((id, _) => live(id))
      }
      syncNewIds()
      assert(readModel().sorted == model.sorted,
        s"step $step: live read diverged from the reference model")
      // time travel to a random recorded snapshot must replay exactly
      val ids = snapHist.keys.toSeq.sorted
      val probe = ids(rnd.nextInt(ids.length))
      val got = SnapshotStore.readSnapshot(spark, root, Some(probe))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.sorted == snapHist(probe).sorted,
        s"step $step: snapshot $probe no longer replays its content")
    }
  }

  test("branch-aware state machine: 40 interleavings keep lineages isolated") {
    import scala.collection.mutable
    import graft.sources.SnapshotStore
    val root = java.nio.file.Files
      .createTempDirectory("graft_prop_branch").toString + "/t"
    val rnd = new scala.util.Random(4242)
    def rows(n: Int): Seq[(Long, Double)] =
      (0 until n).map(_ => (rnd.nextInt(50).toLong,
        (rnd.nextInt(1000) + 1).toDouble))
    def df(r: Seq[(Long, Double)]) = {
      import spark.implicits._
      r.toDF("id", "v")
    }
    def collect(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    var trunk: Seq[(Long, Double)] = Nil
    val branches = mutable.Map.empty[String, Seq[(Long, Double)]]
    val snapHist = mutable.Map.empty[Long, Seq[(Long, Double)]]
    def known = SnapshotStore.snapshots(spark, root).toSet
    def recordNew(content: Seq[(Long, Double)], before: Set[Long]): Unit =
      (known -- before).foreach(snapHist(_) = content)
    val names = Seq("b0", "b1", "b2")
    var pre = Set.empty[Long]
    SnapshotStore.commit(df(rows(5)), root)
    trunk = collect(SnapshotStore.read(spark, root))
    recordNew(trunk, pre)
    for (step <- 1 to 40) {
      pre = known
      rnd.nextInt(9) match {
        case 0 => // trunk overwrite
          val r = rows(3 + rnd.nextInt(4))
          SnapshotStore.commit(df(r), root)
          trunk = r.sorted; recordNew(trunk, pre)
        case 1 => // trunk append
          val r = rows(1 + rnd.nextInt(3))
          SnapshotStore.appendCommit(df(r), root)
          trunk = (trunk ++ r).sorted; recordNew(trunk, pre)
        case 2 => // trunk merge-on-read delete
          val k = 2 + rnd.nextInt(4); val res = rnd.nextInt(k)
          SnapshotStore.deleteWhere(spark, root, col("id") % k === res)
          trunk = trunk.filterNot(t => t._1 % k == res)
          recordNew(trunk, pre)
        case 3 => // trunk compaction: content-invariant
          SnapshotStore.compact(spark, root, targetBytes = 1L << 16)
          recordNew(trunk, pre)
        case 4 => // fork a branch at a random recorded snapshot
          val free = names.filterNot(branches.contains)
          if (free.nonEmpty && snapHist.nonEmpty) {
            val ids = snapHist.keys.toSeq.sorted
            val from = ids(rnd.nextInt(ids.length))
            SnapshotStore.createBranch(spark, root, free.head, from)
            branches(free.head) = snapHist(from)
          }
        case 5 => // append to a random branch
          if (branches.nonEmpty) {
            val n = branches.keys.toSeq.sorted.apply(
              rnd.nextInt(branches.size))
            val r = rows(1 + rnd.nextInt(3))
            SnapshotStore.appendToBranch(df(r), root, n)
            branches(n) = (branches(n) ++ r).sorted
            recordNew(branches(n), pre)
          }
        case 6 => // fast-forward one branch to another
          if (branches.size >= 2) {
            val ns = branches.keys.toSeq.sorted
            val into = ns(rnd.nextInt(ns.length))
            val from = ns(rnd.nextInt(ns.length))
            if (into != from) {
              SnapshotStore.fastForward(spark, root, into, from)
              branches(into) = branches(from)
            }
          }
        case 7 => // restore trunk to ANY recorded snapshot — branch
          // content promotes to trunk with its marker stripped
          val ids = snapHist.keys.toSeq.sorted
          val to = ids(rnd.nextInt(ids.length))
          SnapshotStore.restore(spark, root, to)
          trunk = snapHist(to); recordNew(trunk, pre)
        case 8 => // vacuum: all live lineages must survive
          SnapshotStore.vacuum(spark, root,
            keepLast = 1 + rnd.nextInt(3), minAgeMs = 0)
          val live = known
          snapHist.filterInPlace((id, _) => live(id))
      }
      assert(collect(SnapshotStore.read(spark, root)) == trunk,
        s"step $step: trunk read diverged")
      branches.foreach { case (n, m) =>
        assert(collect(SnapshotStore.readBranch(spark, root, n)) == m,
          s"step $step: branch $n diverged")
      }
      if (snapHist.nonEmpty) {
        val ids = snapHist.keys.toSeq.sorted
        val probe = ids(rnd.nextInt(ids.length))
        assert(collect(SnapshotStore.readSnapshot(spark, root,
          Some(probe))) == snapHist(probe).sorted,
          s"step $step: snapshot $probe no longer replays")
      }
    }
  }

  // driver-side union-find reference (path compression)
  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Five adversarial edge lists (self-loops dropped), seeded. */
  private def starShapes(): Seq[(Int, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) yield {
      val n = 40 + rnd.nextInt(40)
      val shape = trial % 3 match {
        case 0 => // sparse random
          Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        case 1 => // chains + a clique + self-loop noise
          (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)) ++
            Seq.fill(6)((n.toLong + rnd.nextInt(4),
              n.toLong + rnd.nextInt(4)))
        case 2 => // star bursts (the hot-shingle pair shape)
          (0 until 3).flatMap(c => Seq.fill(n / 3)(
            ((c * 1000).toLong, (c * 1000 + 1 + rnd.nextInt(n)).toLong)))
      }
      trial -> shape.filter(e => e._1 != e._2)
    }
  }

  test("star contraction equals union-find on random adversarial graphs") {
    import spark.implicits._
    for ((trial, edges) <- starShapes()) {
      if (edges.nonEmpty) {
        val (labels, rounds) = Dedup.alternatingStarLabels(
          edges.toDF("doc_a", "doc_b"))
        val got = labels.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = components(edges)
        assert(got == want,
          s"trial $trial: star labels diverge from union-find")
        val bound = 2 * (64 - java.lang.Long
          .numberOfLeadingZeros(want.size.toLong)) + 4
        assert(rounds <= bound,
          s"trial $trial: $rounds rounds exceeds the O(log n) bound $bound")
      }
    }
  }

  test("star contraction: the local finish and the rounds path both " +
      "equal union-find on the adversarial graphs") {
    import spark.implicits._
    for ((trial, edges) <- starShapes() if edges.nonEmpty) {
      val pairs = edges.toDF("doc_a", "doc_b")
      val want = components(edges)
      val (local, r0) = Dedup.alternatingStarLabels(pairs)
      val (rounds, r1) = withStarCap(0)(Dedup.alternatingStarLabels(pairs))
      assert(r0 == 0 && r1 > 0, s"trial $trial: paths $r0 / $r1 rounds")
      for ((path, labels) <- Seq("local" -> local, "rounds" -> rounds))
        assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1))
          .toMap == want, s"trial $trial: $path labels diverge")
    }
  }

  test("merge algebra: empty source is identity; same source is idempotent") {
    import spark.implicits._
    val srcGen = Gen.listOfN(20, for {
      k <- Gen.choose(1L, 30L)
      v <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (k, v))
    (1L to 5L).foreach { seed =>
      val target = (1L to 25L).map(k => (k, k * 1.5)).toDF("k", "v")
      val srcRows = sample(srcGen, seed)
        .groupBy(_._1).map(_._2.head).toSeq // unique keys per side
      val source = srcRows.toDF("k", "v")
      val empty = spark.emptyDataset[(Long, Double)].toDF("k", "v")
      val m0 = graft.sources.MergeInto.mergedView(target, empty, "k")
      assert(m0.exceptAll(target).count() == 0 &&
        target.exceptAll(m0).count() == 0, s"seed $seed: identity")
      val m1 = graft.sources.MergeInto.mergedView(target, source, "k")
      val m2 = graft.sources.MergeInto.mergedView(m1, source, "k")
      assert(m1.exceptAll(m2).count() == 0 &&
        m2.exceptAll(m1).count() == 0, s"seed $seed: idempotence")
    }
  }

  test("d7 trie cut: settled-bucket invariants on generated corpora " +
    "(occupancy bound, co-bucketing, depth lattice)") {
    // VERDICT r13 task 8: the settle loop (Dedup.d7Settle) is the
    // round's most intricate control flow; pin its THREE structural
    // invariants on generated corpora instead of examples only:
    //  1. termination state: every (table, depth, bucket) holds
    //     <= D7HotBucketCap members OR sits at full depth 64;
    //  2. sig-identity: identical embeddings carry identical sigs, so
    //     they co-locate at ONE (depth, bucket) per table at whatever
    //     depth the cut settled on — the exact-dup recall-1.0 argument;
    //  3. depth lattice: depths only take values basePlanes + k *
    //     D7SplitStep clamped to 64 (the per-round step is fixed, so a
    //     final depth off the lattice would prove a broken round).
    // Monotonicity across rounds is not observable from the final
    // frame; the lattice + the occupancy bound are its footprint.
    val vecGen: Gen[Array[Float]] =
      Gen.listOfN(64, Gen.choose(-1000, 1000).map(_ / 1000.0f))
        .map(_.toArray)
    val basePlanes = 16
    val tables = 2
    (1L to 3L).foreach { seed =>
      val hotSize = 129 + (seed % 3).toInt * 71 // > D7HotBucketCap
      val hot = sample(vecGen, seed)
      val bg = (1 to 200).map(i => sample(vecGen, seed * 1000 + i))
      import spark.implicits._
      val corpus = ((0 until hotSize).map(i => (i.toLong, hot)) ++
        bg.zipWithIndex.map { case (v, i) => ((hotSize + i).toLong, v) })
        .toDF("vec_id", "embedding")
      val settled = Dedup.d7SettledBuckets(corpus, basePlanes, tables)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      // (vec_id, table_id, depth, bucket) — column order per d7Settle
      assert(settled.length == (hotSize + bg.size) * tables, s"seed $seed")
      // 1. occupancy: over-cap groups only at full depth
      settled.groupBy(t => (t._2, t._3, t._4)).foreach {
        case ((t, d, b), members) =>
          assert(members.length <= Dedup.D7HotBucketCap || d == 64,
            s"seed $seed: bucket (t=$t d=$d b=$b) holds " +
              s"${members.length} > cap below depth 64")
      }
      // 2. the exact-copy cluster ends co-bucketed per table, and —
      // being sig-identical, hence unsplittable and over cap — at 64
      (0 until tables).foreach { t =>
        val cluster = settled.filter(r => r._1 < hotSize && r._2 == t)
        assert(cluster.map(r => (r._3, r._4)).distinct.length == 1,
          s"seed $seed: identical embeddings split across buckets in table $t")
        assert(cluster.head._3 == 64,
          s"seed $seed: ${hotSize}-member sig-identical cluster " +
            s"settled at depth ${cluster.head._3} != 64 in table $t")
      }
      // 3. depth lattice
      settled.foreach { case (id, t, d, _) =>
        assert(d >= basePlanes && d <= 64 &&
          ((d - basePlanes) % Dedup.D7SplitStep == 0 || d == 64),
          s"seed $seed: vec $id table $t depth $d off the lattice")
      }
    }
  }
}
