package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions
import graft.ops.Det

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * n1 is the exact brute-force baseline (cross join, the oracle);
  * n2 is the sign-random-projection LSH-bucketed variant — the 100 TB
  * path: queries only join vectors in their own bucket, so the
  * shuffle is an equi-join on bucket id instead of a cross join.
  * All cosine math is explicit sequential double arithmetic (see
  * Dedup.d5) so DuckDB reproduces it bit-for-bit.
  */
object Similarity {

  /** Shared ranking tail for n1/n2/n3: heap-reduce to the top-k
    * neighbors per query via the custom TopKPerKey operator — the
    * exchange moves ≤ k·partitions candidates per query instead of
    * EVERY scored pair (at 100 TB the scored set is queries×corpus;
    * the window formulation shuffles and sorts all of it) — then
    * derive the oracle's `rank` column with a row_number over the
    * already-reduced k-row groups. The final TopKPerKeyExec's output
    * partitioning IS hashpartitioning(q_id), so the small window
    * reuses it: no extra exchange, a sort of k rows per group. */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopK.topKPerKey(scored,
      Seq(col("q_id")), Seq(col("cosine").desc, col("neighbor_id").asc), k)
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("q_id"), col("neighbor_id"), col("rank"),
        Det.r6(col("cosine")).as("cosine"))
  }

  /** N1 — brute-force cosine top-k: every 50th vector is a query;
    * rank all other vectors by cosine, keep top 5. Deterministic
    * tiebreak on neighbor id. Cosine is graft's native codegen'd
    * [[graft.functions.FloatCosine]] expression — one fused primitive
    * loop per pair inside WholeStageCodegen, bit-identical to the
    * oracle's norm-then-divide SQL (index-order accumulation). */
  def n1SimTopkBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val scored = queries.as("q").join(emb.as("v"),
        col("q.q_id") =!= col("v.vec_id"))
      .select(col("q.q_id"), col("v.vec_id").as("neighbor_id"),
        GraftFunctions.floatCosine("q.embedding", "v.embedding")
          .as("cosine"))
    topKRanked(scored, 5)
  }

  /** X49 — SEMANTIC benchmark decontamination: the embedding-level
    * member of the decontamination family (x13 flags shared n-grams,
    * x45 fuzzy n-gram containment; THIS flags corpus docs whose
    * embedding sits at near-duplicate cosine of an eval-suite
    * embedding — the leak paraphrase/reformat n-grams can miss).
    *
    * Scale shape — deliberately NOT an ANN problem: the benchmark
    * suite is TINY BY DEFINITION (x13's broadcast argument), so the
    * right plan is broadcast-the-benchmark + one exact codegen'd
    * FloatCosine scan of the corpus — linear in corpus size, zero
    * shuffle on the corpus side, no index to build or trust, and
    * EXACT at the threshold (an LSH/IVF route would trade recall
    * exactly where a decontamination gate must not miss). The
    * crossJoin is `crossJoin(broadcast(benchmark))` — a
    * BroadcastNestedLoopJoin whose build side is workload-bounded,
    * the same discipline as the repo's stats broadcasts.
    *
    * Gate (the d7/n7 plant): leaked copies of every benchmark vector
    * enter the corpus under offset ids. The closed form rests on an
    * SF-BOUNDED premise (the d5-ceiling discipline, ADVICE r10):
    * organic corpus–benchmark cosine tops out at ~0.49 on this corpus
    * family AT THE GATED SCALE FACTORS (measured at sf0.01 and
    * sf0.1, re-measured by DedupSimSpec's organic-ceiling assertion
    * each run) — at a larger SF more organic pairs exist and the
    * premise must be re-established before trusting the 0.9-threshold
    * closed form there. Within that bound the flagged set is exactly
    * the planted leaks at cosine 1.0. */
  def x49SemanticDecontamination(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val bench = emb.filter(col("vec_id") % 50 === 0)
    val leaked = bench.select(
      (col("vec_id") + graft.dedup.Dedup.D7PlantOffset).as("vec_id"),
      col("embedding"))
    val corpus = emb.filter(col("vec_id") % 50 =!= 0).union(leaked)
    corpus.select(col("vec_id").as("corpus_id"),
        col("embedding").as("c_embedding"))
      .crossJoin(broadcast(bench.select(
        col("vec_id").as("benchmark_id"),
        col("embedding").as("b_embedding"))))
      .select(col("corpus_id"), col("benchmark_id"),
        GraftFunctions.floatCosine("c_embedding", "b_embedding")
          .as("cosine"))
      .filter(col("cosine") >= 0.9)
      .select(col("corpus_id"), col("benchmark_id"),
        Det.r6(col("cosine")).as("cosine"))
  }

  /** N10 — FILTERED vector search: top-k under a metadata predicate
    * (here: same `label` as the query) — the constrained-search
    * pattern every vector-serving system needs (a RAG query
    * restricted to one tenant/language/date window). The predicate is
    * applied BEFORE the distance: the candidate join is an EQUI-join
    * on the filter attribute, so candidates co-partition by label and
    * only qualifying pairs are ever scored — selectivity divides the
    * scored set (here 10×), where post-filtering an unfiltered top-k
    * instead returns UNDER-FULL result lists whenever fewer than k of
    * the true neighbors qualify (the classic filtered-ANN failure).
    * Exact within the filter, like n1 — the ANN form composes the
    * same predicate onto n6's candidate scan, traded against
    * per-cell recall. DedupSimSpec pins the plan: a hash/merge join
    * on label, never the nested-loop cross join n1's truth baseline
    * pays. */
  def n10FilteredTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val scored = queries.as("q").join(emb.as("v"),
        col("q.q_label") === col("v.label") &&
          col("q.q_id") =!= col("v.vec_id"))
      .select(col("q.q_id"), col("v.vec_id").as("neighbor_id"),
        GraftFunctions.floatCosine("q.q_emb", "v.embedding")
          .as("cosine"))
    topKRanked(scored, 5)
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim i): the murmur3 fmix32 finalizer (Appleby — public domain
    * constants) of the flat index j·64+i, scaled to [-1, 1);
    * reproducible with no RNG object, and replayable in the DuckDB
    * oracle (32-bit wrap arithmetic only — see the n2 oracle SQL).
    * fmix32 is a BIJECTION on 32-bit ints, so distinct (j, i) indices
    * never repeat a component and no two plane vectors can be equal.
    * The previous LCG-mod-97 form was PERIODIC in j with period 97
    * (73856093 ≡ 2, 19349663 ≡ 6 mod 97), so any plane set wider than
    * 97 indices REPEATED hyperplanes across tables — tables 0 and 1
    * of a 4×64 sig set shared 31 identical planes — and, worse, every
    * plane was the SAME mod-97 arithmetic progression at a shifted
    * phase, so "independent" tables were near-parallel lattice
    * vectors, voiding the per-table independence the
    * OR-amplification recall math 1-(1-p^b)^L assumes (r12 ADVICE).
    * DedupSimSpec asserts all numTables·64 plane vectors distinct. */
  private[graft] def planeComponent(j: Int, i: Int): Double = {
    var h = j * 64 + i
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^= h >>> 16
    h / 2147483648.0
  }

  /** N2 — LSH-bucketed cosine top-k (scale path of n1): sign-random-
    * projection hashing (Charikar 2002), MULTI-TABLE: `numTables`
    * independent sets of `numPlanes` hyperplanes. A query compares
    * only against vectors sharing a bucket in ANY table (standard
    * OR-amplification): recall is 1-(1-p^b)^L instead of p^b, while
    * expected bucket occupancy stays n/2^b per table — the two dials
    * that bound both miss rate and the per-bucket join fan-out at
    * 100 TB (more planes → smaller buckets; more tables → recall
    * back). Candidates are distinct (q, v) pairs BEFORE the cosine —
    * embeddings are fetched once per pair, not once per colliding
    * table. Recall vs n1 and max bucket occupancy are asserted in
    * ScalaTest; no SQL oracle (scheme-specific). */
  def n2SimLshTopk(s: SparkSession, dir: String): DataFrame = {
    val (planes, tables) = n2AutoDial(Tables.embeddings(s, dir).count())
    n2Impl(s, dir, planes, tables)
  }

  /** Corpus-size-aware LSH dials, set from the measured 50k-vector
    * dial grid (tools/RecallProbe, BASELINE.md round-6 notes). The
    * sf1.0 scale run exposed the fixed-dial failure mode (n2 ran
    * 11.8× at 10× data), but the grid showed the textbook
    * occupancy-first response — grow planes with log2(n) — COLLAPSES
    * recall on a low-similarity workload (11 planes: 0.355 vs the
    * 0.6 floor; this fixture's true top-5 sit near cosine 0.45,
    * where per-plane collision p ≈ 0.65 makes p^b vanish fast).
    * What held the floor was TABLE growth at fixed 8 planes: recall
    * 0.46 (L=4) → 0.66 (L=8) → 0.74 (L=12) while candidate cost
    * stayed at 0.6–0.9× of brute force. So: planes pinned at 8,
    * +2 tables per corpus doubling past 2^13, capped at 16. The
    * honest scale statement: SRP-LSH is sub-quadratic only in the
    * HIGH-similarity regime (d7's near-dup gate); for low-similarity
    * top-k its cost rises toward brute force as recall is defended,
    * and IVF (n3) is the production path. Floors keep the
    * sf0.001–sf0.1 behavior — and the oracle's pinned (8, 4) —
    * byte-identical. */
  private[graft] def n2AutoDial(n: Long): (Int, Int) = {
    // tables = min(16, 4 + 2·⌈log2(n/8192)⌉), computed by INTEGER
    // thresholds (8192·2^d) so the dial is exact at power-of-two
    // corpus sizes (a floating log2 can double-round there) and so
    // the n2 oracle SQL can restate the identical CASE ladder from
    // count(*) — the sf1.0 sweep caught the previous hardcoded
    // 4-table oracle diverging the moment the dial moved
    var d = 0
    var cap = 8192L
    while (cap < n && d < 6) { cap *= 2; d += 1 }
    (8, 4 + 2 * d)
  }

  private[graft] def n2Buckets(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int): DataFrame =
    bucketsOf(Tables.embeddings(s, dir), numPlanes, numTables)

  /** SRP bucket assignment for any (vec_id, embedding) frame — shared
    * by n2's top-k search and d7's near-dup banding. */
  private[graft] def bucketsOf(emb: DataFrame,
      numPlanes: Int, numTables: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // Bucket assignment as a kernel: the expression form (L×b planes ×
    // 64 flat terms) spends more time in codegen compilation than the
    // data takes to process. Plane components are deterministic, so
    // the table is built once per task.
    val planes = Array.tabulate(numTables * numPlanes, 64)(planeComponent)
    emb
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          (0 until numTables).iterator.map { t =>
            var bucket = 0L
            var j = 0
            while (j < numPlanes) {
              var dot = 0.0; var i = 0
              while (i < 64) { dot += v(i) * planes(t * numPlanes + j)(i); i += 1 }
              if (dot >= 0) bucket |= 1L << j
              j += 1
            }
            (id, t, bucket)
          }
        }
      }.toDF("vec_id", "table_id", "bucket")
  }

  /** Full-depth SRP signatures: one 64-plane sign bitmap per
    * (vec_id, table). The adaptive-depth pair kernel
    * ([[graft.dedup.Dedup.d7PairsOf]]) cuts a PER-BUCKET prefix of
    * this; computing all 64 signs up front is linear (n·L·64·dim)
    * and makes every later depth extension a bitmask, not a second
    * pass over the embeddings. Plane stream is [[planeComponent]]
    * with a fixed 64-plane stride per table, so a table's plane j is
    * the same hyperplane at every depth — the prefix property the
    * trie cut needs. */
  private[graft] def sigsOf(emb: DataFrame, numTables: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val planes = Array.tabulate(numTables * 64, 64)(planeComponent)
    emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          (0 until numTables).iterator.map { t =>
            var sig = 0L
            var j = 0
            while (j < 64) {
              var dot = 0.0; var i = 0
              while (i < 64) { dot += v(i) * planes(t * 64 + j)(i); i += 1 }
              if (dot >= 0) sig |= 1L << j
              j += 1
            }
            (id, t, sig)
          }
        }
      }.toDF("vec_id", "table_id", "sig")
  }

  private[graft] def n2Impl(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int): DataFrame = {
    val buckets = n2Buckets(s, dir, numPlanes, numTables)
    val qBuckets = buckets.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("table_id"), col("bucket"))
    val candidates = qBuckets.as("q").join(buckets.as("v"),
        col("q.table_id") === col("v.table_id") &&
          col("q.bucket") === col("v.bucket") &&
          col("q.q_id") =!= col("v.vec_id"))
      .select(col("q.q_id"), col("v.vec_id").as("neighbor_id"))
      .distinct()
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val scored = candidates
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_embedding")), "q_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("v_embedding")), "neighbor_id")
      .select(col("q_id"), col("neighbor_id"),
        GraftFunctions.floatCosine("q_embedding", "v_embedding")
          .as("cosine"))
    topKRanked(scored, 5)
  }

  private val IvfCells = 16
  private val IvfProbes = 4

  /** Corpus-size-aware IVF dials: cells ≈ √(n/2) (the classic k≈√n
    * rule, halved to keep the k-means fit cheap at the sample cap);
    * probes = min(cells/4, 2·⌈√cells⌉). The fixed ¼-of-cells probe
    * FRACTION (r8 campaign) made per-query serve cost O(n) — probed
    * codes = (cells/4)·(n/cells) = n/4 — which the r13 leg probe
    * exposed as n8's REAL sf10 payer (serve 439.5 s of the 456 s
    * total vs fit 6.5 + encode 9.0; the r12 ladder had attributed
    * the 13.2× to the O(n·cells) build assignment — falsified by
    * measurement). The √-growth branch takes over past 64 cells
    * (n > 8192, beyond both gated SFs — their outputs stay
    * byte-identical): measured at sf10 (n=200k, cells=317),
    * probes=36 holds recall 0.661 ≥ the 0.6 floor at 2.5× less
    * serve wall than the old 79 (0.843 recall, 165 s vs 66 s —
    * RecallProbe ivf sweep, BASELINE round-13). Per-query probed
    * codes become 2√cells·√(2n) = O(n^0.75); at 10⁹ vectors the
    * probe fraction is ~1.3% of cells — the FAISS-typical deployment
    * band. Floors keep the sf0.001–0.01 spec fixtures (500 vectors)
    * on the original (16, 4). */
  private[graft] def n3AutoDial(n: Long): (Int, Int) = {
    val cells = math.max(IvfCells,
      math.ceil(math.sqrt(n / 2.0)).toInt)
    val probes = math.max(IvfProbes,
      math.min(cells / 4, 2 * math.ceil(math.sqrt(cells)).toInt))
    (cells, probes)
  }

  /** N3 — IVF-style ANN (inverted-file coarse quantization as in
    * Jégou et al. 2011, "Product quantization for nearest neighbor
    * search" — the IVF stage without PQ): a k-means coarse quantizer
    * (seeded, k=16) partitions vectors into cells; each query probes
    * its 4 nearest cells and brute-forces only those (cosine via the
    * native float_cosine expression). The third ANN shape next to brute
    * force (n1) and sign-LSH (n2): at 100 TB the inverted file is the
    * partitioning — vectors cluster-bucketed at write time, a query
    * touches nprobe/k of the data.
    *
    * Scale choices: (a) the quantizer fits on a deterministic
    * key-hash SAMPLE capped at ~100k vectors — k-means on the full
    * corpus would iterate over 100 TB for a 16-row model; (b) cell
    * ASSIGNMENT uses the same metric as probe selection (max cosine
    * against the centroid, in a broadcast mapPartitions kernel — no
    * shuffle), so a query's nearest cells are exactly where its
    * cosine-nearest vectors were filed. Recall vs n1 asserted in
    * ScalaTest; rows-only (k-means isn't SQL-expressible). */
  /** IVF coarse-quantizer fit: spark.ml k-means (seeded, 5 iters) on
    * a deterministic key-hash sample capped at ~100k vectors — the
    * model is `cells` rows; the sample bound, not the corpus, pays
    * for training. Shared by n3 and d9 (the SemDeDup clusterer is
    * exactly the IVF coarse quantizer). */
  private[graft] def fitCentroids(emb: DataFrame, cells: Int,
      total: Long): Array[(Int, Array[Float])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sampleCap = 100000L
    val mod = math.max(1L, total / sampleCap)
    val fitSet = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(cells).setSeed(42).setMaxIter(5)
      .setFeaturesCol("features").fit(fitSet)
    // centroids as float arrays (cell-selection only — lossy cast OK)
    model.clusterCenters.zipWithIndex.map {
      case (c, i) => (i, c.toArray.map(_.toFloat))
    }
  }

  /** Cell assignment by max cosine against the broadcast centroids —
    * a zero-shuffle mapPartitions kernel over (vec_id, embedding).
    * Deterministic: strict `>` argmax ties to the lowest cell index,
    * so an exact-duplicate vector ALWAYS lands in its original's
    * cell (the d9 planted-gate invariant). Returns
    * (vec_id, embedding, cell).
    *
    * Round-13 negative result, recorded so it is not retried: a
    * triangle-inequality (Elkan 2003) two-level router over the
    * centroids — exact, bit-identical argmax, group bound
    * cos(v,c) ≤ 1 − max(0, ‖v̂−ĝ‖−r_g)²/2 — was built, spec-proven
    * equal to this flat scan on every corpus vector, and then
    * MEASURED to prune nothing: scan fraction 1.000 over 10k sf10
    * vectors (OPTIMIZATION_r13.md). At 64 dims the fitted centroids are
    * near-isotropic (⌈√cells⌉ groups of unit centroids carry radii
    * ≈ √2, so every group's bound clears every best-so-far) — metric
    * pruning needs low dimension or tight cluster structure, and
    * this corpus has neither. The flat scan is also NOT the scale
    * payer: the r13 leg probe put assignment at seconds against the
    * serve leg's hundreds (see n8's scaladoc), so the flat kernel
    * stays. */
  private[graft] def cosineAssign(emb: DataFrame,
      cents: Array[(Int, Array[Float])]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val bcCents = s.sparkContext.broadcast(cents)
    emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcCents.value
        // centroid norms hoisted once per task — the inner loop paid
        // them per VECTOR per cell, half its flops. Accumulation
        // order (k ascending) and the sim expression are unchanged,
        // so every sim is the bit-identical double and no cell
        // membership can move (the d9 oracle depends on that).
        val cnorms = cs.map { case (_, ct) =>
          var nc = 0.0; var k = 0
          while (k < ct.length) { nc += ct(k).toDouble * ct(k); k += 1 }
          math.sqrt(nc)
        }
        it.map { case (id, v) =>
          var nv = 0.0; var i = 0
          while (i < v.length) { nv += v(i).toDouble * v(i); i += 1 }
          val nrm = math.sqrt(nv)
          var best = 0; var bestSim = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val ct = cs(c)._2
            var dot = 0.0; var k = 0
            while (k < ct.length) {
              dot += v(k).toDouble * ct(k)
              k += 1
            }
            val sim = dot / (nrm * cnorms(c))
            if (sim > bestSim) { bestSim = sim; best = cs(c)._1 }
            c += 1
          }
          (id, v, best)
        }
      }.toDF("vec_id", "embedding", "cell")
  }

  def n3SimIvfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkOf(s, Tables.embeddings(s, dir),
      col("vec_id") % 50 === 0, k = 5)

  /** N3B — the planted closed-form ORACLE GATE for the plain IVF
    * path (the n7 pattern one tier down the stack): exact copies of
    * every 25th vector query the full n3 machinery — coarse fit,
    * cosine cell assignment, nprobe routing, in-cell exact scoring.
    * A copy's best-cell computation is IDENTICAL to its source's, so
    * its own cell ranks first among the probed cells, the source is
    * in it, and exact cosine scores it 1.0 — top-1 is closed-form.
    * This value-gates the routing arithmetic itself, which n3's
    * rows-only contract (plus the statistical recall spec) could
    * not. */
  def n3bIvfPlantedGate(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planted = base
      .filter(col("vec_id") % graft.dedup.Dedup.D7PlantStride === 0)
      .select((col("vec_id") + graft.dedup.Dedup.D7PlantOffset)
        .as("vec_id"), col("embedding"))
    ivfTopkOf(s, base.union(planted),
      col("vec_id") >= graft.dedup.Dedup.D7PlantOffset, k = 1)
  }

  /** The n3 body over an arbitrary (vec_id, embedding) corpus and
    * query predicate — shared by the gated n3 query and the n3b
    * planted gate. */
  private[graft] def ivfTopkOf(s: SparkSession, embIn: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int,
      probesOverride: Option[Int] = None): DataFrame = {
    import s.implicits._
    val emb = embIn.select("vec_id", "embedding")
    val total = emb.count()
    val (cells, autoProbes) = n3AutoDial(total)
    val probes = probesOverride.getOrElse(autoProbes)
    val cents = fitCentroids(emb, cells, total)
    val assigned = cosineAssign(emb, cents)
    val centroids = cents.toSeq.toDF("cell", "centroid")
    val queries = assigned.filter(queryPred)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("q_embedding"))
    val wCells = Window.partitionBy("q_id")
      .orderBy(col("centroid_sim").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(centroids))
      .withColumn("centroid_sim",
        GraftFunctions.floatCosine("q_embedding", "centroid"))
      .withColumn("cell_rank", row_number().over(wCells))
      .filter(col("cell_rank") <= probes)
      .select("q_id", "q_embedding", "cell")
    val scored = probed.join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        GraftFunctions.floatCosine("q_embedding", "embedding")
          .as("cosine"))
    topKRanked(scored, k)
  }

  // 16 × 4-dim subspaces (was 8 × 8): same fit/encode/LUT flops
  // (M·K·subdim invariant), 2× the ADC adds and 16 B codes (16×
  // compression of the 64-float vector) — bought because the measured
  // 50k probe put the 8×8 ADC ordering noise, not routing, at the
  // bottom of n6's recall gap: 8×8 read n4 0.667 / n6 0.709; 16×4
  // reads n4 0.971 / n6 0.757 vs the 0.764 routing ceiling
  // (BASELINE.md round-8 recall campaign).
  private val PqM = 16      // subspaces (64 dims → 16 × 4)
  private val PqSubDim = 4  // dims per subspace
  private val PqK = 32      // centroids per subspace → 5-bit codes
  private val PqRerank = 25 // exact re-rank depth floor before top-5

  /** Corpus-size-aware exact-re-rank depth: a FIXED candidate depth
    * decays recall as the corpus grows (ADC ordering error is
    * relative — the true neighbor's ADC rank scales with n; at 50k
    * vectors the fixed 25-deep re-rank measured 0.187 recall, and
    * n/500 = 100-deep still only 0.373 on the 25-rotation probe
    * corpus, whose mixed orientations are adversarial for a single
    * global codebook). Depth n/100 (1 % of the corpus) measured
    * 0.667; the floor keeps the ≤2.5k-vector spec fixtures
    * byte-identical. Cost stays linear — `depth` exact cosines per
    * query. The structural fix past this dial is per-cell codebooks
    * (IVF-PQ, Jégou et al. 2011 §IV): train each PQ codebook on the
    * residuals of one coarse cell so no single codebook has to span
    * heterogeneous orientations. */
  private[graft] def n4RerankDepth(n: Long): Int =
    math.max(PqRerank, (n / 100L).toInt)

  /** n6/n7/n8 exact-re-rank depth (round 14, VERDICT r13 item 7):
    * the r8-campaign constant was 4× the n4 depth = max(100, n/25) —
    * at sf10 that exact-scores 8 000 candidates/query while the
    * measured recall ceiling is ROUTING-bound: the sf10 sweep
    * (tools/RecallProbe rerank, BASELINE round-14) reads 0.661 — the
    * probe-dial ceiling — already at R = 2 000 = n/100 (0.660 at
    * n/200, 0.653 at n/400), i.e. depth beyond n/100 buys nothing:
    * ADC ordering error is exhausted long before routing loss. The
    * new branch caps the depth at max(256, n/100); the 256 floor
    * EXCEEDS the old formula's value for every n ≤ 6 400, so both
    * gated SFs (n ≤ ~5 500) keep byte-identical outputs (the
    * n3AutoDial precedent), and at 10⁹ vectors exact re-scoring
    * drops 4× per query. */
  private[graft] def n6RerankDepth(n: Long): Int =
    math.min(4 * n4RerankDepth(n),
      math.max(256, (n / 100L).toInt))

  /** Plain Lloyd iterations over one PQ subspace, run locally on the
    * driver over the (capped, sorted — collect order must not change
    * the model) training sample. Deterministic: strided init over the
    * vec_id-sorted sample, fixed iteration count, empty clusters keep
    * their previous center. A distributed k-means per subspace would
    * cost 8 × the n3 fit for a model of 8 × 32 × 8 doubles — the
    * sample bound (not the corpus) is what pays for training. */
  private def lloyd(points: Array[Array[Float]], k: Int, iters: Int)
      : Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    val centers = Array.tabulate(math.min(k, n))(i =>
      points((i.toLong * n / math.min(k, n)).toInt).map(_.toDouble))
    var it = 0
    val assign = new Array[Int](n)
    while (it < iters) {
      // assignment (the O(n·k·d) term, ~all of training cost) is
      // embarrassingly parallel AND deterministic: each point's best
      // center is a pure function of (point, centers), written to its
      // own slot. Accumulation below stays SEQUENTIAL in point order,
      // so center arithmetic — and every downstream code/probe — is
      // bit-identical to the single-threaded form. Training was the
      // measured wall-clock floor of n3/n4/n6 at sf1.0 (the sample
      // cap makes it constant in corpus size, but a constant worth
      // 32 cores).
      java.util.stream.IntStream.range(0, n).parallel().forEach { p =>
        val v = points(p)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          var dist = 0.0; var i = 0
          while (i < d) {
            val df = v(i) - centers(c)(i); dist += df * df; i += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        assign(p) = best
      }
      val sums = Array.fill(centers.length, d)(0.0)
      val counts = new Array[Long](centers.length)
      var p = 0
      while (p < n) {
        val v = points(p)
        val best = assign(p)
        var i = 0; while (i < d) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
        p += 1
      }
      var c = 0
      while (c < centers.length) {
        if (counts(c) > 0) {
          var i = 0
          while (i < d) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** N4 — product-quantized ANN (Jégou, Douze, Schmid 2011, §III:
    * PQ codes + asymmetric distance). The missing compression leg of
    * the ANN family: n2/n3 cut which vectors a query TOUCHES; PQ cuts
    * what each touched vector COSTS. Each 64-dim float vector (256 B)
    * becomes [[PqM]] = 16 subspace codes plus its true norm (~16×
    * smaller; 16×4 geometry since the round-8 recall campaign — see
    * the dials comment): the compressed-domain scan reads codes only,
    * and one approximate dot product is 16 table lookups instead of
    * 64 multiplies. At 100 TB that is the difference between an index
    * that fits in cluster memory and one that doesn't.
    *
    * Shape: (a) codebooks train driver-locally on the same capped
    * key-hash sample n3 uses — the model is 16×32×4 doubles, the
    * sample bound pays for training; (b) encoding is a zero-shuffle
    * broadcast kernel; (c) the scan streams codes once per partition
    * against the broadcast query LUTs (each query precomputes
    * dot(q_sub, centroid) for all 16×32 centroids — 4 KB/query; the
    * query set is the WORKLOAD, bounded by definition, not the
    * corpus); (d) approximate cosine = ADC dot / (‖q‖·true ‖v‖);
    * (e) the TopKPerKey heaps reduce the stream map-side to 25
    * candidates per query, which re-rank EXACTLY via float_cosine —
    * PQ error only costs recall inside the candidate set, never a
    * wrong final cosine. Rows-only + recall gate in ScalaTest (the
    * codebook is not SQL-expressible). */
  def n4SimPqTopk(s: SparkSession, dir: String): DataFrame =
    pqTopkOf(s, Tables.embeddings(s, dir),
      col("vec_id") % 50 === 0, k = 5)

  /** N4B — the planted closed-form ORACLE GATE for the flat-PQ path
    * (the n3b/n7 pattern, for the codebook leg that had only a
    * recall spec — VERDICT r9 §2b): exact copies of every
    * [[graft.dedup.Dedup.D7PlantStride]]-th vector query the full n4
    * machinery — codebook fit, corpus encode, ADC scan, exact
    * re-rank. A copy encodes to the IDENTICAL code and norm as its
    * source (the codebook assignment is a pure function of the
    * vector), so the source's ADC score equals the copy's own
    * self-score — the maximum the quantized space can produce for
    * that query — which puts the source inside any re-rank depth ≥ 1,
    * and the exact re-rank then scores it cosine 1.0: top-1 is
    * closed-form `(src + offset, src, 1, 1.0)`. This value-gates the
    * fit/encode/LUT/ADC arithmetic itself, which n4's rows-only
    * contract plus the statistical recall spec could not. */
  def n4bPqPlantedGate(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planted = base
      .filter(col("vec_id") % graft.dedup.Dedup.D7PlantStride === 0)
      .select((col("vec_id") + graft.dedup.Dedup.D7PlantOffset)
        .as("vec_id"), col("embedding"))
    pqTopkOf(s, base.union(planted),
      col("vec_id") >= graft.dedup.Dedup.D7PlantOffset, k = 1)
  }

  /** The n4 body over an arbitrary (vec_id, embedding) corpus and
    * query predicate — shared by the gated n4 query and the n4b
    * planted gate (the ivfTopkOf factoring, one tier down). */
  private def pqTopkOf(s: SparkSession, embIn: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    import s.implicits._
    val emb = embIn.select("vec_id", "embedding")
    val total = emb.count()
    val sampleCap = 16384L
    val mod = math.max(1L, total / sampleCap)
    // BOUNDED BY CONSTRUCTION: the key-hash filter keeps ~total/mod ≈
    // sampleCap rows regardless of corpus size (the mod grows with
    // total), so this collect tops out near 16k × 64 floats ≈ 4 MB —
    // the d5-tiling discipline applied to a training sample.
    // DedupSimSpec asserts the cap.
    val sample: Array[(Long, Array[Float])] = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(PqM) { m =>
      lloyd(sample.map { case (_, v) =>
        java.util.Arrays.copyOfRange(v, m * PqSubDim, (m + 1) * PqSubDim)
      }, PqK, iters = 10)
    }
    val bcCb = s.sparkContext.broadcast(codebooks)
    val codes = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cb = bcCb.value
        it.map { case (id, v) =>
          var nv = 0.0
          var i = 0; while (i < v.length) { nv += v(i).toDouble * v(i); i += 1 }
          val code = new Array[Byte](PqM)
          var m = 0
          while (m < PqM) {
            val cents = cb(m)
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < cents.length) {
              var dist = 0.0; var j = 0
              while (j < PqSubDim) {
                val df = v(m * PqSubDim + j) - cents(c)(j)
                dist += df * df; j += 1
              }
              if (dist < bestD) { bestD = dist; best = c }
              c += 1
            }
            code(m) = best.toByte
            m += 1
          }
          (id, code, math.sqrt(nv))
        }
      }.toDF("vec_id", "code", "norm")
    // the query WORKLOAD, driver-collected once (bounded by
    // definition); kept as raw vectors too so the exact re-rank's
    // q-side join reads this LocalRelation instead of re-scanning
    // the corpus a 6th time (round 14 — the r13 audit's n4b
    // multi-scan finding)
    val queryVecs: Array[(Long, Array[Float])] = emb
      .filter(queryPred)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val queryLuts: Array[(Long, Array[Double], Double)] = queryVecs
      .map { case (id, q) =>
        var qn = 0.0
        var i = 0; while (i < q.length) { qn += q(i).toDouble * q(i); i += 1 }
        val lut = new Array[Double](PqM * PqK)
        var m = 0
        while (m < PqM) {
          val cents = codebooks(m)
          var c = 0
          while (c < cents.length) {
            var dot = 0.0; var j = 0
            while (j < PqSubDim) {
              dot += q(m * PqSubDim + j).toDouble * cents(c)(j); j += 1
            }
            lut(m * PqK + c) = dot
            c += 1
          }
          m += 1
        }
        (id, lut, math.sqrt(qn))
      }
    val bcQ = s.sparkContext.broadcast(queryLuts)
    val approx = codes.as[(Long, Array[Byte], Double)]
      .mapPartitions { it =>
        val qs = bcQ.value
        it.flatMap { case (vid, code, nv) =>
          qs.iterator.filter(_._1 != vid).map { case (qid, lut, qn) =>
            var adc = 0.0; var m = 0
            while (m < PqM) { adc += lut(m * PqK + (code(m) & 0xff)); m += 1 }
            (qid, vid, adc / (qn * nv))
          }
        }
      }.toDF("q_id", "neighbor_id", "approx_cosine")
    val cand = graft.plans.TopK.topKPerKey(approx, Seq(col("q_id")),
      Seq(col("approx_cosine").desc, col("neighbor_id").asc),
      n4RerankDepth(total))
    // q-side embeddings come from the already-collected workload (a
    // LocalRelation) — same rows, same join, one fewer corpus scan
    val scored = cand.select("q_id", "neighbor_id")
      .join(queryVecs.toSeq.toDF("q_id", "q_embedding"), "q_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("v_embedding")), "neighbor_id")
      .select(col("q_id"), col("neighbor_id"),
        GraftFunctions.floatCosine("q_embedding", "v_embedding")
          .as("cosine"))
    topKRanked(scored, k)
  }

  /** N0 — embedding QA: per-vector dimensionality and L2 norm, the
    * sanity pass a pipeline runs before any ANN indexing (zero-norm
    * or wrong-dim vectors break cosine math downstream — FloatCosine
    * NULLs them, this surfaces them). Pure per-row expressions, no
    * shuffle: scan-speed at 100 TB. The fold accumulates float→double
    * in index order — bit-identical to the oracle's list_sum (for the
    * pair-heavy hot paths the codegen'd FloatCosine expression is the
    * scale form; one pass per row is fine interpreted). */
  def n0EmbeddingNorms(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      size(col("embedding")).cast("bigint").as("dim"),
      Det.r6(sqrt(expr("aggregate(embedding, cast(0.0 AS double), " +
        "(acc, x) -> acc + cast(x AS double) * cast(x AS double))")))
        .as("l2_norm"))

  /** N5 — int8 SCALAR quantization QA (the FAISS-SQ8 shape: the
    * compression tier between raw floats and n4's product codes —
    * 4× smaller, one multiply to decode, no codebook training).
    * Per vector: symmetric scale 127/max|x|, code_i =
    * floor(x_i·scale + 0.5) clamped to ±127, and the RECONSTRUCTION
    * cosine between original and code vector (scale cancels in
    * cosine, so scoring the integer codes directly is exact) — the
    * quality metric that decides whether the quantized tier can serve
    * a given recall target. Pure per-row kernel, no shuffle:
    * scan-speed at 100 TB. All sums accumulate float→double in index
    * order — the identical IEEE sequence as the oracle's list_sum
    * (the d5 parity argument); zero vectors are unquantizable and
    * dropped by both sides. */
  def n5EmbeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          var m = 0.0
          var k = 0
          while (k < v.length) {
            val a = math.abs(v(k).toDouble); if (a > m) m = a; k += 1
          }
          if (m <= 0.0) Iterator.empty
          else {
            val scale = 127.0 / m
            var dot = 0.0; var nx = 0.0; var nc = 0.0
            k = 0
            while (k < v.length) {
              val x = v(k).toDouble
              var c = math.floor(x * scale + 0.5)
              if (c > 127.0) c = 127.0
              if (c < -127.0) c = -127.0
              dot += x * c; nx += x * x; nc += c * c
              k += 1
            }
            Iterator.single(
              (id, m, dot / (math.sqrt(nx) * math.sqrt(nc))))
          }
        }
      }.toDF("vec_id", "max_abs", "recon_cosine")
      .select(col("vec_id"), Det.r6(col("max_abs")).as("max_abs"),
        Det.r6(col("recon_cosine")).as("recon_cosine"))
  }

  /** N6 — IVF-PQ (IVFADC, Jégou et al. 2011 §IV, with per-cell
    * codebooks): the structural fix for n4's global-codebook recall
    * decay. n4 quantizes RAW vectors with one codebook, so a corpus
    * with heterogeneous orientations (the 50k rotation probe) forces
    * that codebook to span every cluster at once — measured recall
    * fell to 0.187 at a fixed re-rank depth. Here a coarse quantizer
    * (the n3 inverted file) routes each vector to a cell and PQ
    * encodes the RESIDUAL v − centroid with that CELL's own codebook:
    * residuals are centered near zero and orientation-consistent
    * within a cell, so each small codebook only models local
    * structure (the Jégou IVFADC argument; per-cell books PLUS the
    * per-cell OPQ rotation below are the full LOPQ construction of
    * Kalantidis & Avrithis 2014 — see [[opqFit]]).
    *
    * Shape: (a) coarse centers + per-cell residual codebooks train
    * driver-locally on the capped key-hash sample (the model is
    * cells×M×K×8 doubles — the sample bound pays for training, as in
    * n3/n4; cells whose sample slice is thinner than 2·K fall back to
    * a GLOBAL residual codebook so no book trains on fewer points
    * than centroids); (b) encoding is a zero-shuffle broadcast
    * kernel emitting (cell, 16-byte code, true norm) — the same ~16×
    * compression as n4 (16×4 geometry since the r8 recall campaign);
    * (c) the scan reads codes once per partition;
    * each TASK lazily builds, per query, the nprobe cell list and the
    * per-(query, cell) ADC lookup tables from the broadcast query
    * vectors + model (probes×M×K dot products per query — workload-
    * bounded, and rebuilding per task beats broadcasting
    * queries×probes×4 KB of LUTs); (d) approximate cosine =
    * (dot(q, centroid) + Σ_m lut[code_m]) / (‖q‖·‖v‖) — the ADC
    * estimate of dot(q, v) through the residual decomposition;
    * (e) TopKPerKey heap-reduces to the size-aware re-rank depth,
    * exact float_cosine re-ranks, so PQ error once again only costs
    * recall inside the candidate set. At 100 TB: a query touches
    * nprobe/cells of the CODES (n3's routing × n4's compression —
    * the index tier that fits in cluster memory), which is exactly
    * the FAISS IVFADC deployment shape. Rows-only + recall gate in
    * ScalaTest (k-means and codebooks aren't SQL-expressible). */
  def n6SimIvfPqTopk(s: SparkSession, dir: String): DataFrame =
    ivfPqTopkOf(s, Tables.embeddings(s, dir),
      col("vec_id") % 50 === 0, k = 5, dir, "base")

  /** N7 — the d7-style PLANTED TRUE-DUP GATE for n6, the production
    * ANN default: exact duplicates of every 25th vector join the
    * corpus under offset ids (the d7 plant), and each planted copy
    * queries the full IVF-PQ stack. An exact copy routes to ITS OWN
    * cell with p = 1 (identical best-cell computation), its ADC
    * estimate sits near cosine 1.0 while the organic corpus tops out
    * near 0.51 (see d5) — a gap PQ quantization noise cannot bridge —
    * and the exact re-rank then scores the true duplicate at
    * cosine 1.0 exactly (ulp absorbed by the 1e−6 rounding). So the
    * top-1 answer is a CLOSED FORM the DuckDB oracle can state
    * without replaying any k-means: (query, its source, 1.0, rank 1).
    * This is the value-level CORRECTNESS row the recall specs
    * (statistical, ScalaTest-side) could not give n6. */
  def n7IvfPqPlantedGate(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planted = base
      .filter(col("vec_id") % graft.dedup.Dedup.D7PlantStride === 0)
      .select((col("vec_id") + graft.dedup.Dedup.D7PlantOffset)
        .as("vec_id"), col("embedding"))
    ivfPqTopkOf(s, base.union(planted),
      col("vec_id") >= graft.dedup.Dedup.D7PlantOffset, k = 1,
      dir, "planted")
  }

  /** N8 — ANN INDEX SERVING: the build-once / query-many split every
    * production vector store runs on (x21's index-serve idea, for
    * ANN). Build fits the IVF-PQ model and encodes the corpus, then
    * PERSISTS both as snapshot-store tables — the model as one
    * java-serialized blob row (centroid + codebook doubles
    * round-trip exactly), the code table as parquet (long/int/
    * binary/double columns, all exact). Serve then answers the d7
    * planted queries FROM THE PERSISTED INDEX alone — fresh reads,
    * no refit — plus the raw corpus for the exact re-rank tail. Fit,
    * encode, and the serialization round-trip are all deterministic,
    * so the served answers are bit-identical to the in-memory n6
    * path and n7's closed-form oracle applies verbatim: each planted
    * copy's top-1 is its source at cosine exactly 1.0. At 100 TB
    * this is the shape that matters: the build cost is paid once per
    * index, and each query batch pays only routing + nprobe/cells of
    * the compressed codes. Honest exponent, r13 correction: the r12
    * ladder blamed n8's 13.2×-per-decade on the O(n·cells) build
    * assignment — the leg-by-leg probe (BASELINE.md) FALSIFIED
    * that at sf10: fit 6.5 s + encode 9.0 s vs serve 439.5 s. The
    * payer was the serve leg's candidate mass under the old
    * ¼-of-cells probe fraction (n/4 probed codes per query × n/25
    * planted queries ⇒ O(n²) fixture cost; 434M scored rows = the
    * 5 GB shuffle in the r12 artifact). Fixed in [[n3AutoDial]]'s
    * √-growth probe branch, recall re-measured ≥ the 0.6 floor at
    * sf10. */
  def n8IndexServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.SnapshotStore
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planted = base
      .filter(col("vec_id") % graft.dedup.Dedup.D7PlantStride === 0)
      .select((col("vec_id") + graft.dedup.Dedup.D7PlantOffset)
        .as("vec_id"), col("embedding"))
    val emb = base.union(planted)
    val total = emb.count()
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val root = new org.apache.hadoop.fs.Path(
      sys.props("java.io.tmpdir"),
      s"graft_n8$tag/${s.sparkContext.applicationId}").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sources.Scratch.fresh(s, new org.apache.hadoop.fs.Path(root))

    // BUILD: fit + encode + persist (model blob + code table)
    val model = fitIvfPqCached(s, emb, total, dir, "planted")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(model); oos.close()
    SnapshotStore.commit(
      Seq(Tuple1(bos.toByteArray)).toDF("model_blob"), s"$root/model")
    SnapshotStore.commit(encodeIvfPq(s, emb, model), s"$root/codes")

    // SERVE: everything index-side comes back off disk
    val blob = SnapshotStore.read(s, s"$root/model")
      .head().getAs[Array[Byte]](0)
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(blob))
    val modelBack = ois.readObject().asInstanceOf[IvfPqModel]
    ois.close()
    val codesBack = SnapshotStore.read(s, s"$root/codes")
      .select("vec_id", "cell", "code", "norm")
    serveIvfPq(s, emb, modelBack, codesBack, total,
      col("vec_id") >= graft.dedup.Dedup.D7PlantOffset, k = 1)
  }

  /** N9 — INCREMENTAL INDEX DELTA-MERGE: the freshness path every
    * production vector store needs beside n8's build-once/serve-many
    * split. A delta batch arrives AFTER the index was built; instead
    * of the O(corpus) refit+re-encode, the delta is encoded against
    * the PERSISTED model (same coarse routing, same per-cell residual
    * codebooks) and APPENDED to the code table — O(delta) work — and
    * queries are served from the merged index.
    *
    * Why this is sound: encode is a pure function of (vector, model).
    * With the model frozen, append-then-serve is bit-identical to
    * re-encoding the union corpus from scratch (DedupSimSpec pins
    * this), so the only thing a refit could change is quantization
    * QUALITY as the data distribution drifts — the classic IVF
    * rebuild-cadence trade, handled operationally (x28/x38 drift
    * monitors are the trigger), not per-batch.
    *
    * Gate: the delta is the d7 plant (exact copies of every 25th base
    * vector under offset ids). A copy routes to its twin's cell with
    * p = 1 — same bestCell arithmetic on the same model — so the
    * served top-1 is the closed form the DuckDB oracle states without
    * replaying k-means: (copy, source, rank 1, cosine 1.0), exactly
    * n7's contract but through the append path: fit never saw the
    * queries, and the answers come off the merged on-disk table. */
  def n9IndexDeltaMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.SnapshotStore
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val delta = base
      .filter(col("vec_id") % graft.dedup.Dedup.D7PlantStride === 0)
      .select((col("vec_id") + graft.dedup.Dedup.D7PlantOffset)
        .as("vec_id"), col("embedding"))
    val totalBase = base.count()
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val root = new org.apache.hadoop.fs.Path(
      sys.props("java.io.tmpdir"),
      s"graft_n9$tag/${s.sparkContext.applicationId}").toString
    graft.sources.Scratch.fresh(s, new org.apache.hadoop.fs.Path(root))
    // BUILD: fit + encode the BASE corpus only, persist both
    val model = fitIvfPqCached(s, base, totalBase, dir, "base")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(model); oos.close()
    SnapshotStore.commit(
      Seq(Tuple1(bos.toByteArray)).toDF("model_blob"), s"$root/model")
    SnapshotStore.commit(encodeIvfPq(s, base, model), s"$root/codes")
    // DELTA MERGE: read the persisted model back, encode ONLY the
    // delta with it, append a new commit to the code table
    val blob = SnapshotStore.read(s, s"$root/model")
      .head().getAs[Array[Byte]](0)
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(blob))
    val modelBack = ois.readObject().asInstanceOf[IvfPqModel]
    ois.close()
    SnapshotStore.appendCommit(
      encodeIvfPq(s, delta, modelBack), s"$root/codes")
    // SERVE from the merged table; dials stay those of the fit corpus
    val merged = SnapshotStore.read(s, s"$root/codes")
      .select("vec_id", "cell", "code", "norm")
    serveIvfPq(s, base.union(delta), modelBack, merged, totalBase,
      col("vec_id") >= graft.dedup.Dedup.D7PlantOffset, k = 1)
  }

  /** The trained IVF-PQ index: coarse centroids, one PQ codebook
    * array per cell, and one LOCAL ROTATION per cell (row-major d×d;
    * thin cells share the global books + global rotation by
    * reference — Java serialization keeps the sharing in the
    * broadcast and the n8 blob). */
  private[graft] type IvfPqModel =
    (Array[Array[Double]], Array[Array[Array[Array[Double]]]],
      Array[Array[Array[Double]]])

  /** Session memo of the deterministic IVF-PQ fit, keyed like the
    * BpeMerges / d6-labels caches: within one application the fit is
    * a pure function of (dir, corpus tag — "base" = the embeddings
    * table, "planted" = embeddings ∪ the d7 plant), and four queries
    * consume it (n6/n9 the base fit, n7/n8 the planted fit) — without
    * the memo each bench session pays every fit twice. The model is
    * centroids + books + rotations ≈ a few MB; a NEW session over
    * regenerated parquet re-fits because applicationId changes. */
  private val fitCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), IvfPqModel]()

  private[graft] def fitIvfPqCached(s: SparkSession, emb: DataFrame,
      total: Long, dir: String, tag: String): IvfPqModel =
    fitCache.computeIfAbsent((s.sparkContext.applicationId, dir, tag),
      _ => fitIvfPq(s, emb, total))

  /** The n6 body over an arbitrary (vec_id, embedding) corpus and
    * query predicate — shared by the gated n6 query and the n7
    * planted gate. Fit → encode → serve, each phase reusable on its
    * own (n8 persists between encode and serve). */
  private[graft] def ivfPqTopkOf(s: SparkSession, embIn: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int,
      dir: String, tag: String,
      probesOverride: Option[Int] = None,
      rerankOverride: Option[Int] = None): DataFrame = {
    val emb = embIn.select("vec_id", "embedding")
    val total = emb.count()
    val model = fitIvfPqCached(s, emb, total, dir, tag)
    val codes = encodeIvfPq(s, emb, model)
    serveIvfPq(s, emb, model, codes, total, queryPred, k,
      probesOverride, rerankOverride)
  }

  /** Fit phase: deterministic coarse quantizer + per-cell residual
    * codebooks from the capped key-hash sample. */
  private[graft] def fitIvfPq(s: SparkSession, emb: DataFrame,
      total: Long): IvfPqModel = {
    import s.implicits._
    val (cells, _) = n3AutoDial(total)
    val sampleCap = 16384L
    val mod = math.max(1L, total / sampleCap)
    // BOUNDED BY CONSTRUCTION: key-hash sampling keeps ~sampleCap
    // rows however large the corpus (mod scales with total) — ≈4 MB
    // on the driver, same discipline as n4's sample and d5's tiles.
    // DedupSimSpec asserts the cap.
    val sample: Array[Array[Float]] = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).map(_._2)
    // coarse quantizer on the sample (deterministic strided-init
    // Lloyd — same routine as the PQ books, k = the n3 cell count)
    val cents: Array[Array[Double]] = lloyd(sample, cells, iters = 10)
    def bestCell(v: Array[Float]): Int = {
      var best = 0; var bestSim = Double.NegativeInfinity; var c = 0
      while (c < cents.length) {
        val ct = cents(c)
        var dot = 0.0; var nc = 0.0; var nv = 0.0; var i = 0
        while (i < ct.length) {
          dot += v(i).toDouble * ct(i); nc += ct(i) * ct(i)
          nv += v(i).toDouble * v(i); i += 1
        }
        // EXACTLY the executor encoding loop's expression: sqrt(nv *
        // nc) is not bit-identical to sqrt(nv)*sqrt(nc), and a
        // boundary vector assigned to different cells by trainer vs
        // encoder would be quantized under the wrong cell's codebook
        val sim = dot / (math.sqrt(nv) * math.sqrt(nc))
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      best
    }
    def residual(v: Array[Float], cell: Int): Array[Float] = {
      val ct = cents(cell)
      Array.tabulate(v.length)(i => (v(i) - ct(i)).toFloat)
    }
    val byCell: Map[Int, Array[Array[Float]]] = sample
      .map(v => (bestCell(v), v)).groupBy(_._1)
      .map { case (c, vs) => (c, vs.map { case (_, v) => residual(v, c) }) }
    val (globalRot, globalBooks) =
      opqFit(sample.map(v => residual(v, bestCell(v))))
    // one (rotation, book array) per cell; thin cells SHARE the
    // global pair by reference (Java serialization keeps the sharing
    // in the broadcast)
    val fitted: Array[(Array[Array[Double]], Array[Array[Array[Double]]])] =
      Array.tabulate(cells) { c =>
        byCell.get(c).filter(_.length >= 2 * PqK)
          .map(r => opqFit(r)).getOrElse((globalRot, globalBooks))
      }
    (cents, fitted.map(_._2), fitted.map(_._1))
  }

  /** Apply a row-major rotation to a float vector (identity when the
    * matrix is empty — kept as a sentinel nowhere today, but cheap to
    * honor). Output as floats: the codebooks train and encode in the
    * same float-rounded rotated space, so trainer and encoder see
    * bit-identical inputs. */
  private def applyRot(r: Array[Array[Double]], v: Array[Float])
      : Array[Float] =
    if (r.length == 0) v
    else Array.tabulate(v.length) { i =>
      val row = r(i)
      var s = 0.0; var j = 0
      while (j < v.length) { s += row(j) * v(j); j += 1 }
      s.toFloat
    }

  private def trainBooks(pts: Array[Array[Float]])
      : Array[Array[Array[Double]]] =
    Array.tabulate(PqM) { m =>
      lloyd(pts.map(v =>
        java.util.Arrays.copyOfRange(v, m * PqSubDim, (m + 1) * PqSubDim)),
        PqK, iters = 10)
    }

  /** Nearest-codeword reconstruction of one (rotated) residual — the
    * OPQ inner loop's q(Rx). */
  private def reconstruct(books: Array[Array[Array[Double]]],
      xr: Array[Float]): Array[Double] = {
    val y = new Array[Double](xr.length)
    var m = 0
    while (m < PqM) {
      val centsM = books(m)
      var best = 0; var bestD = Double.MaxValue
      var cc = 0
      while (cc < centsM.length) {
        var dist = 0.0; var j = 0
        while (j < PqSubDim) {
          val df = xr(m * PqSubDim + j) - centsM(cc)(j)
          dist += df * df; j += 1
        }
        if (dist < bestD) { bestD = dist; best = cc }
        cc += 1
      }
      System.arraycopy(centsM(best), 0, y, m * PqSubDim, PqSubDim)
      m += 1
    }
    y
  }

  /** Non-parametric OPQ (Ge et al. 2013, "Optimized product
    * quantization", §4; per-cell application = the LOPQ local
    * rotations of Kalantidis & Avrithis 2014): alternate
    *   (a) train/encode PQ books on the ROTATED residuals Rx,
    *   (b) update R = argmin_{R orthogonal} Σ‖Rx − q(Rx)‖² — the
    *       orthogonal-Procrustes closed form R = UVᵀ from
    *       svd(Σ q(Rx)·xᵀ).
    * A rotation aligns each cell's residual distribution with the
    * axis-aligned subspace split, cutting the cross-subspace
    * correlation that PQ cannot model — measured here as the n6
    * recall gap to its n3 routing ceiling (0.709 vs 0.764 at 50k,
    * BASELINE.md round-6/8 notes). Deterministic: Lloyd is
    * deterministic, the iteration count is fixed, and LAPACK's SVD
    * is a pure function of its input on a fixed runtime (sign flips
    * pair between U and V columns, so UVᵀ is unaffected). */
  private def opqFit(resid: Array[Array[Float]], iters: Int = 2)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val d = resid(0).length
    var rot = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var books: Array[Array[Array[Double]]] = null
    var t = 0
    while (t <= iters) {
      val xr = resid.map(applyRot(rot, _))
      books = trainBooks(xr)
      if (t < iters) {
        val a = Array.fill(d, d)(0.0)
        var p = 0
        while (p < resid.length) {
          val y = reconstruct(books, xr(p))
          val x = resid(p)
          var i = 0
          while (i < d) {
            val yi = y(i); val ai = a(i)
            var j = 0
            while (j < d) { ai(j) += yi * x(j); j += 1 }
            i += 1
          }
          p += 1
        }
        rot = procrustes(a)
      }
      t += 1
    }
    (rot, books)
  }

  /** R = UVᵀ for svd(A) — the orthogonal matrix nearest (in
    * Frobenius norm) to mapping x-space onto the reconstruction
    * space. Breeze delegates to LAPACK dgesdd (in Spark's jars). */
  private def procrustes(a: Array[Array[Double]]): Array[Array[Double]] = {
    val d = a.length
    val m = breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) => a(i)(j))
    val s = breeze.linalg.svd(m)
    val r = s.U * s.Vt
    Array.tabulate(d, d)((i, j) => r(i, j))
  }

  /** Encode phase: route every vector to its cell and quantize the
    * residual to PqM byte codes — one scan, model broadcast once. */
  private[graft] def encodeIvfPq(s: SparkSession, emb: DataFrame,
      model: IvfPqModel): DataFrame = {
    import s.implicits._
    val bcModel = s.sparkContext.broadcast(model)
    emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cs, bks, rts) = bcModel.value
        it.map { case (id, v) =>
          var nv = 0.0
          var i = 0; while (i < v.length) { nv += v(i).toDouble * v(i); i += 1 }
          // inline best-cell (broadcast copy, not the driver closure)
          var cell = 0; var bestSim = Double.NegativeInfinity; var c = 0
          while (c < cs.length) {
            val ct = cs(c)
            var dot = 0.0; var nc = 0.0; var k = 0
            while (k < ct.length) {
              dot += v(k).toDouble * ct(k); nc += ct(k) * ct(k); k += 1
            }
            val sim = dot / (math.sqrt(nv) * math.sqrt(nc))
            if (sim > bestSim) { bestSim = sim; cell = c }
            c += 1
          }
          val cb = bks(cell)
          val ct = cs(cell)
          // residual, rotated into the cell's OPQ frame — the exact
          // float-rounded space the cell's books trained in
          val resid = Array.tabulate(v.length)(j =>
            (v(j) - ct(j)).toFloat)
          val rr = applyRot(rts(cell), resid)
          val code = new Array[Byte](PqM)
          var m = 0
          while (m < PqM) {
            val centsM = cb(m)
            var best = 0; var bestD = Double.MaxValue
            var cc = 0
            while (cc < centsM.length) {
              var dist = 0.0; var j = 0
              while (j < PqSubDim) {
                val df = rr(m * PqSubDim + j) - centsM(cc)(j)
                dist += df * df; j += 1
              }
              if (dist < bestD) { bestD = dist; best = cc }
              cc += 1
            }
            code(m) = best.toByte
            m += 1
          }
          (id, cell, code, math.sqrt(nv))
        }
      }.toDF("vec_id", "cell", "code", "norm")
  }

  /** Serve phase: answer `queryPred` top-k from the code table +
    * model alone (plus the raw corpus for the exact re-rank tail) —
    * the part a query-time service re-runs against a PERSISTED
    * index without refitting. */
  private[graft] def serveIvfPq(s: SparkSession, emb: DataFrame,
      model: IvfPqModel, codes: DataFrame, total: Long,
      queryPred: org.apache.spark.sql.Column, k: Int,
      probesOverride: Option[Int] = None,
      rerankOverride: Option[Int] = None): DataFrame = {
    import s.implicits._
    val bcModel = s.sparkContext.broadcast(model)
    val (_, autoProbes) = n3AutoDial(total)
    val probes = probesOverride.getOrElse(autoProbes)
    // the query WORKLOAD (bounded by definition): raw vectors only —
    // each task derives probe lists and LUTs locally from the model
    val queryVecs: Array[(Long, Array[Float], Double)] = emb
      .filter(queryPred)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
      .map { case (id, q) =>
        var qn = 0.0
        var i = 0; while (i < q.length) { qn += q(i).toDouble * q(i); i += 1 }
        (id, q, math.sqrt(qn))
      }
    val bcQ = s.sparkContext.broadcast(queryVecs)
    val nProbe = probes
    // CELL-CLUSTER the codes before the ADC scan: with input-order
    // partitions every task sees rows of ~every cell, so every task
    // built every (query, probed-cell) LUT — 32× redundant flops, and
    // the term that made n6 LUT-bound in the sf1.0 campaign (LUT work
    // is probes×M×K×subdim ≈ 60× the coarse-routing flops per query).
    // After the repartition each cell's rows live in exactly one task,
    // and LUTs build LAZILY on the first row of their cell — total LUT
    // work drops to queries×probes once, paid for by one shuffle of
    // the 20 B/row codes (the cheapest relation in the query). Cell
    // sizes are ~√(2n) (cells ≈ √(n/2)), so hashing 100s of cells
    // into 32 tasks balances; the result is bit-identical (same LUT
    // values, computed in one place instead of 32).
    // EXPLICIT width (round 14): the ADC scan's cost is candidate
    // mass (queries × probes × cell size), invisible in the 20 B/row
    // code bytes — AQE's byte-targeted coalesce collapses this
    // exchange to ONE task at gate SF (105 KB of codes) and serializes
    // the whole scan; a pinned user width is final (see
    // graft.ops.Exchanges).
    val approx = codes
      .repartition(graft.ops.Exchanges.sessionShuffleWidth(s), col("cell"))
      .as[(Long, Int, Array[Byte], Double)]
      .mapPartitions { it =>
        val (cs, bks, rts) = bcModel.value
        val qs = bcQ.value
        // cell -> queries probing it (q kept raw; LUT deferred)
        val probing = new java.util.HashMap[Int,
          scala.collection.mutable.ArrayBuffer[(Long, Double, Double, Array[Float])]]()
        qs.foreach { case (qid, q, qn) =>
          val sims = Array.tabulate(cs.length) { c =>
            val ct = cs(c)
            var dot = 0.0; var nc = 0.0; var i = 0
            while (i < ct.length) {
              dot += q(i).toDouble * ct(i); nc += ct(i) * ct(i); i += 1
            }
            (dot / (qn * math.sqrt(nc)), dot, c)
          }
          sims.sortBy { case (sim, _, c) => (-sim, c) }.take(nProbe)
            .foreach { case (_, qdotc, c) =>
              var buf = probing.get(c)
              if (buf == null) {
                buf = scala.collection.mutable.ArrayBuffer.empty
                probing.put(c, buf)
              }
              buf += ((qid, qn, qdotc, q))
            }
        }
        // LUTs materialize per cell on first contact, cached for the
        // rest of the task — cells this task never holds cost nothing
        val built = new java.util.HashMap[Int,
          Array[(Long, Double, Double, Array[Double])]]()
        def lutsFor(cell: Int): Array[(Long, Double, Double, Array[Double])] = {
          var arr = built.get(cell)
          if (arr == null) {
            val buf = probing.get(cell)
            arr =
              if (buf == null) Array.empty
              else {
                val cb = bks(cell)
                buf.iterator.map { case (qid, qn, qdotc, q) =>
                  // codes live in the cell's rotated OPQ frame:
                  // dot(q, r) = dot(Rq, Rr) ≈ Σ_m lut[code_m] with
                  // the LUT built from the ROTATED query
                  val qr = applyRot(rts(cell), q)
                  val lut = new Array[Double](PqM * PqK)
                  var m = 0
                  while (m < PqM) {
                    val centsM = cb(m)
                    var cc = 0
                    while (cc < centsM.length) {
                      var dot = 0.0; var j = 0
                      while (j < PqSubDim) {
                        dot += qr(m * PqSubDim + j).toDouble * centsM(cc)(j)
                        j += 1
                      }
                      lut(m * PqK + cc) = dot
                      cc += 1
                    }
                    m += 1
                  }
                  (qid, qn, qdotc, lut)
                }.toArray
              }
            built.put(cell, arr)
          }
          arr
        }
        it.flatMap { case (vid, cell, code, nv) =>
          val qsHere = lutsFor(cell)
          if (qsHere.isEmpty) Iterator.empty
          else qsHere.iterator.filter(_._1 != vid).map {
            case (qid, qn, qdotc, lut) =>
              var adc = qdotc; var m = 0
              while (m < PqM) { adc += lut(m * PqK + (code(m) & 0xff)); m += 1 }
              (qid, vid, adc / (qn * nv))
          }
        }
      }.toDF("q_id", "neighbor_id", "approx_cosine")
    // deeper floor than n4: the probed set is already nprobe/cells of
    // the corpus, so a 4× candidate depth costs 4× a small number of
    // exact cosines while recovering the ADC ordering error ON TOP of
    // the routing loss (n6's recall ceiling is n3's routing recall).
    // The dial is from the measured 50k probe (BASELINE.md round-8):
    // 2× read 0.704–0.709 against the 0.764 ceiling; 4× plus the
    // 16-subspace codes reads 0.757 — 99% of the ceiling — while
    // exact-scoring ~16% of the probed set.
    // rerankOverride is the RecallProbe sweep dial only (verdict r13
    // item 7) — every declared query serves with the default depth
    val cand = graft.plans.TopK.topKPerKey(approx, Seq(col("q_id")),
      Seq(col("approx_cosine").desc, col("neighbor_id").asc),
      rerankOverride.getOrElse(n6RerankDepth(total)))
    // q-side embeddings come from the already-collected workload (a
    // LocalRelation) — same rows, same join, one fewer corpus scan
    val scored = cand.select("q_id", "neighbor_id")
      .join(queryVecs.map { case (id, q, _) => (id, q) }.toSeq
        .toDF("q_id", "q_embedding"), "q_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("v_embedding")), "neighbor_id")
      .select(col("q_id"), col("neighbor_id"),
        GraftFunctions.floatCosine("q_embedding", "v_embedding")
          .as("cosine"))
    topKRanked(scored, k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n9_index_delta_merge" -> n9IndexDeltaMerge,
    "n8_index_serve" -> n8IndexServe,
    "n7_ivfpq_planted_gate" -> n7IvfPqPlantedGate,
    "n5_embedding_quantize" -> n5EmbeddingQuantize,
    "n0_embedding_norms" -> n0EmbeddingNorms,
    "n1_sim_topk_bruteforce" -> n1SimTopkBruteforce,
    "n2_sim_lsh_topk" -> n2SimLshTopk,
    "n3_sim_ivf_topk" -> n3SimIvfTopk,
    "n3b_ivf_planted_gate" -> n3bIvfPlantedGate,
    "n4_sim_pq_topk" -> n4SimPqTopk,
    "n4b_pq_planted_gate" -> n4bPqPlantedGate,
    "n6_sim_ivfpq_topk" -> n6SimIvfPqTopk,
    "n10_filtered_topk" -> n10FilteredTopk,
    "x49_semantic_decontamination" -> x49SemanticDecontamination)

  /** DuckDB restatement of [[planeComponent]]'s fmix32 over a
    * non-negative int32 `seed` expression: Java's logical shifts are
    * floor-divisions on the unsigned representation, xor is bigint
    * xor, and the two wrap-multiplies run in hugeint before the
    * mod-2^32 fold (u·0xc2b2ae35 tops out near 2^64, past int64).
    * The final CASE maps the unsigned word back to Java's signed
    * int before the /2^31 scale. Substitution duplicates the seed
    * subexpression ~24×, which DuckDB folds at plan time. */
  private def fmix32Sql(seed: String): String = {
    def shx(u: String, d: Long): String = s"xor($u, ($u) // $d)"
    def mul(u: String, c: String): String =
      s"(((($u)::hugeint * $c) % 4294967296)::bigint)"
    val u1 = shx(s"($seed)", 65536L)
    val u2 = mul(u1, "2246822507")
    val u3 = shx(u2, 8192L)
    val u4 = mul(u3, "3266489909")
    val u5 = shx(u4, 65536L)
    s"((CASE WHEN $u5 >= 2147483648 THEN ($u5) - 4294967296 " +
      s"ELSE $u5 END) / 2147483648.0)"
  }

  val oracle: Map[String, String] = Map(
    // the planted-leak closed form: organic corpus–benchmark cosine
    // tops out at ~0.49 AT THE GATED SFs (sf0.01/sf0.1 — an
    // SF-bounded premise, re-measured by DedupSimSpec's
    // organic-ceiling assertion), so the 0.9-threshold flag set is
    // exactly the planted copies at cosine 1.0 (see
    // x49SemanticDecontamination scaladoc)
    "x49_semantic_decontamination" ->
      s"""SELECT vec_id + ${graft.dedup.Dedup.D7PlantOffset}
             AS corpus_id,
           vec_id AS benchmark_id, 1.0 AS cosine
         FROM embeddings
         WHERE vec_id % 50 = 0""",
    // n8 serves the SAME planted queries from the persisted index —
    // deterministic fit + exact round-trip ⇒ n7's closed form applies
    "n8_index_serve" ->
      s"""SELECT vec_id + ${graft.dedup.Dedup.D7PlantOffset} AS q_id,
           vec_id AS neighbor_id, cast(1 AS int) AS rank,
           1.0 AS cosine
         FROM embeddings
         WHERE vec_id % ${graft.dedup.Dedup.D7PlantStride} = 0""",
    // same closed form through the APPEND path: the frozen model
    // routes each planted copy to its twin's cell regardless of
    // whether its code row came from the build or the delta commit
    "n9_index_delta_merge" ->
      s"""SELECT vec_id + ${graft.dedup.Dedup.D7PlantOffset} AS q_id,
           vec_id AS neighbor_id, cast(1 AS int) AS rank,
           1.0 AS cosine
         FROM embeddings
         WHERE vec_id % ${graft.dedup.Dedup.D7PlantStride} = 0""",
    // the same closed form one tier down: identical best-cell
    // arithmetic routes the copy to its source's cell, exact cosine
    // finishes the argument (see n3bIvfPlantedGate scaladoc)
    "n3b_ivf_planted_gate" ->
      s"""SELECT vec_id + ${graft.dedup.Dedup.D7PlantOffset} AS q_id,
           vec_id AS neighbor_id, cast(1 AS int) AS rank,
           1.0 AS cosine
         FROM embeddings
         WHERE vec_id % ${graft.dedup.Dedup.D7PlantStride} = 0""",
    // the same closed form through the FLAT-PQ path: identical
    // encode arithmetic gives the source the copy's own (maximal)
    // ADC self-score, exact re-rank finishes the argument (see
    // n4bPqPlantedGate scaladoc)
    "n4b_pq_planted_gate" ->
      s"""SELECT vec_id + ${graft.dedup.Dedup.D7PlantOffset} AS q_id,
           vec_id AS neighbor_id, cast(1 AS int) AS rank,
           1.0 AS cosine
         FROM embeddings
         WHERE vec_id % ${graft.dedup.Dedup.D7PlantStride} = 0""",
    // the planted-dup closed form: each planted copy's top-1 is its
    // source at cosine exactly 1.0 (see n7IvfPqPlantedGate scaladoc)
    "n7_ivfpq_planted_gate" ->
      s"""SELECT vec_id + ${graft.dedup.Dedup.D7PlantOffset} AS q_id,
           vec_id AS neighbor_id, cast(1 AS int) AS rank,
           1.0 AS cosine
         FROM embeddings
         WHERE vec_id % ${graft.dedup.Dedup.D7PlantStride} = 0""",
    "n5_embedding_quantize" ->
      s"""WITH e AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(x::double))) AS m
           FROM embeddings),
         c AS (
           SELECT vec_id, embedding, m,
             list_transform(embedding,
               x -> greatest(least(floor(x::double * (127.0 / m) + 0.5),
                    127.0), -127.0)) AS code
           FROM e WHERE m > 0.0)
         SELECT vec_id, ${Det.sql("m", 6)} AS max_abs,
           ${Det.sql(
          """list_sum(list_transform(list_zip(embedding, code),
               p -> p[1]::double * p[2]))
             / (sqrt(list_sum(list_transform(embedding,
                  x -> x::double * x::double)))
                * sqrt(list_sum(list_transform(code, x -> x * x))))""",
          6)} AS recon_cosine
         FROM c""",
    "n0_embedding_norms" ->
      s"""SELECT vec_id,
         cast(len(embedding) AS bigint) AS dim,
         ${Det.sql(
          "sqrt(list_sum(list_transform(embedding, " +
            "x -> x::double * x::double)))", 6)} AS l2_norm
         FROM embeddings""",
    // n2's SRP scheme is pure integer arithmetic, so the WHOLE path —
    // plane components, sign buckets, OR-amplified candidates, exact
    // rescoring, ranked tail — replays in SQL. Two subtleties: (a)
    // planeComponent is the fmix32 finalizer in 32-bit Java wrap
    // arithmetic — the oracle replays it on unsigned values (xor +
    // floor-division shifts; the two wrap-multiplies go through
    // hugeint because u·0xc2b2ae35 exceeds int64), see fmix32Sql;
    // (b) the dials are pinned to the auto-dial floor (8 planes,
    // 4 tables), which n2AutoDial yields for every corpus up to 2^13
    // vectors — both gated SFs (500 and 2000 vectors) sit under the
    // floor, asserted by DedupSimSpec.
    "n2_sim_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         dial AS (SELECT CASE WHEN n <= 8192 THEN 4
                     WHEN n <= 16384 THEN 6
                     WHEN n <= 32768 THEN 8
                     WHEN n <= 65536 THEN 10
                     WHEN n <= 131072 THEN 12
                     WHEN n <= 262144 THEN 14
                     ELSE 16 END AS tables
                  FROM (SELECT count(*) AS n FROM e)),
         tj AS (SELECT t, j, (t*8 + j) AS flat
                FROM (SELECT unnest(range(0,
                       (SELECT tables FROM dial))) AS t),
                     (SELECT unnest(range(0,8)) AS j)),
         bits AS (
           SELECT e.vec_id, tj.t, tj.j,
             CASE WHEN list_sum(list_transform(range(0,64), i ->
               e.embedding[i+1]::double *
               ${fmix32Sql("tj.flat*64 + i")})) >= 0
             THEN (1::BIGINT << tj.j) ELSE 0::BIGINT END AS bit
           FROM e, tj),
         buckets AS (SELECT vec_id, t, sum(bit)::bigint AS bucket
                     FROM bits GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT q.vec_id AS q_id, v.vec_id AS neighbor_id
           FROM buckets q JOIN buckets v
             ON q.t = v.t AND q.bucket = v.bucket
           WHERE q.vec_id % 50 = 0 AND q.vec_id <> v.vec_id),
         n AS (SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding,
                   x -> x::double * x::double))) AS norm
               FROM e),
         scored AS (
           SELECT c.q_id, c.neighbor_id,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               p -> p[1]::double * p[2]::double)) / (a.norm * b.norm)
               AS cosine
           FROM cand c JOIN n a ON a.vec_id = c.q_id
                       JOIN n b ON b.vec_id = c.neighbor_id),
         ranked AS (
           SELECT q_id, neighbor_id, cosine,
             cast(row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, neighbor_id) AS int) AS rank
           FROM scored)
         SELECT q_id, neighbor_id, rank, ${Det.sql("cosine", 6)} AS cosine
         FROM ranked WHERE rank <= 5""",
    // same closed form as n1 with the label-equality predicate in the
    // candidate join — the filtered search must be exact within the
    // filter, ties broken identically
    "n10_filtered_topk" ->
      s"""WITH e AS (
           SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> x::double * x::double))) AS norm
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, v.embedding),
               p -> p[1]::double * p[2]::double)) / (q.norm * v.norm)
               AS cosine
           FROM e q JOIN e v ON q.vec_id % 50 = 0
             AND q.label = v.label
             AND q.vec_id <> v.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, cosine,
             cast(row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, neighbor_id) AS int) AS rank
           FROM scored)
         SELECT q_id, neighbor_id, rank, ${Det.sql("cosine", 6)} AS cosine
         FROM ranked WHERE rank <= 5""",
    "n1_sim_topk_bruteforce" ->
      s"""WITH e AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> x::double * x::double))) AS norm
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, v.embedding),
               p -> p[1]::double * p[2]::double)) / (q.norm * v.norm)
               AS cosine
           FROM e q JOIN e v ON q.vec_id % 50 = 0
             AND q.vec_id <> v.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, cosine,
             cast(row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, neighbor_id) AS int) AS rank
           FROM scored)
         SELECT q_id, neighbor_id, rank, ${Det.sql("cosine", 6)} AS cosine
         FROM ranked WHERE rank <= 5""")
}
