package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions
import graft.ops.Det

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline extension layer.
  *
  * Scale design (100 TB): exact/fingerprint dedup is a single hash
  * aggregate on a 16-byte key — the cheapest possible shuffle.
  * Near-dup detection NEVER compares all pairs: candidates come from
  * an equi-join on a blocking key (shared shingle for d2, LSH band for
  * d3/d4) so the shuffle is keyed and the pair set stays near-linear;
  * only candidates pay the exact-similarity verification. The
  * brute-force d5 exists as the small-side/oracle baseline.
  */
object Dedup {

  private val tokens = split(col("text"), " ")

  /** Distinct 3-token shingles of a document, as a codegen'd
    * higher-order expression (no explode until the blocking join).
    * NOTE: Spark `sequence(1, 0)` DESCENDS ([1,0]) rather than being
    * empty, so short docs need the explicit CASE guard. */
  private[graft] val shingles = array_distinct(expr(
    """CASE WHEN size(split(text, ' ')) < 3 THEN array()
       ELSE transform(sequence(1, size(split(text, ' ')) - 2),
         i -> concat_ws(' ', slice(split(text, ' '), i, 3))) END"""))

  /** D1 — exact + canonical-fingerprint dedup (hash-groupBy). Groups
    * by the order/duplication-insensitive token-set fingerprint; also
    * counts distinct raw md5s inside each group (exact-dup subgroups).
    * Keep-rule: min doc_id — deterministic. */
  def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("exact_md5"),
        md5(array_join(array_sort(array_distinct(tokens)), " ")
          .cast("binary")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("exact_md5")).as("n_exact_variants"))

  /** Distinct 3-token shingles, kernel-side (shared by d2/d3): the
    * Catalyst HOF form (`transform` over `sequence`) evaluates
    * interpreted per element — a flatMap kernel tokenizes and builds
    * the distinct set in one pass. */
  private[graft] def shingleSet(text: String): Iterator[String] = {
    // limit -1 keeps trailing empty tokens — the char overload drops
    // them, silently diverging from the Catalyst [[shingles]] twin
    // (split's default limit is -1) on trailing-space docs
    val toks = text.split(" ", -1)
    if (toks.length < 3) Iterator.empty
    else {
      val seen = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i <= toks.length - 3) {
        seen += (toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
        i += 1
      }
      seen.iterator
    }
  }

  /** D2 — exact n-gram Jaccard near-dup pairs. Blocking key = shared
    * shingle, then exact |A∩B| / |A∪B| >= 0.4 on candidates only.
    *
    * Shape (one keyed shuffle per stage, all kernels JIT'd):
    * flatMap shingle kernel → groupByKey(shingle) + flatMapGroups
    * pair expansion (singleton shingles dropped — they can never form
    * a pair, so exactness is preserved) → hash-agg shared counts →
    * broadcast-join per-doc set sizes → jaccard filter.
    *
    * The pair expansion is O(k²) in the hottest shingle's doc count,
    * so the EXACT oracle form is vulnerable to one adversarial common
    * shingle blowing a single task. `d2b` runs the same pipeline with
    * a stop-shingle cap (a shingle shared by more than `cap` docs is
    * dropped before expansion — the standard stop-word treatment):
    * per-task work and output are bounded by cap², at the cost of
    * under-counting overlap through ubiquitous shingles (jaccard can
    * only DECREASE, and the denominator still uses full set sizes, so
    * d2b ⊆ d2). d3 MinHash is the fully approximate scale path. */
  def d2DedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    d2Impl(s, dir, cap = Int.MaxValue)

  /** D6 — near-dup CLUSTERS: connected components over a near-dup
    * pair graph via min-label propagation, emitting every document's
    * canonical representative (its component's minimum doc_id) — the
    * keep-list stage that turns pairwise near-dup evidence into an
    * actual dedup decision (keep `doc_id == rep`, drop the rest).
    *
    * The pair source is a PARAMETER: the production default is the
    * capped d2b graph (per-task pair expansion bounded by cap², so
    * the whole keep-list path is scale-safe end to end); the banded
    * d3 graph drops in for the fully approximate route, and the
    * uncapped d2 graph remains available as the exact oracle twin.
    *
    * Clustering is the alternating LARGE-STAR/SMALL-STAR contraction
    * of Kiveris et al. 2014 ("Connected components in MapReduce and
    * beyond", §3 Two-Phase): each round rewires every node toward its
    * neighborhood minimum, which HALVES long paths instead of walking
    * them one hop per round the way min-label propagation does — a
    * 1000-doc near-dup chain (boilerplate-heavy web corpora produce
    * exactly these) converges in ~log₂(n) ≈ 10 rounds, not ~1000.
    * Each round is two keyed join+agg passes over the EDGE set only
    * (metadata scale — near-dup pairs, not the corpus). Eager
    * `localCheckpoint` pins the pair source (so d2b runs ONCE) and
    * each round's edges (so lineage doesn't grow with iterations —
    * an unbounded iterative plan is its own scale-killer). An edge
    * set at or under [[localFinishCap]] (derived from the session's
    * broadcast threshold) skips the rounds: one bounded collect
    * brings it to the driver, union-find labels it, and the labels
    * come back as a local frame the consumer's join broadcasts.
    * Isolated docs (the overwhelming majority of a real corpus) never
    * enter either path and rejoin at the end with rep = doc_id.
    * Oracle: DuckDB recursive-CTE reachability closure + min. */
  /** Session cache of the DEFAULT (d2b-sourced) cluster labels, keyed
    * like the pipeline's kept-list cache: d6's labels are consumed by
    * x39's leakage-safe split and the curation DAG in the same
    * session, and without the cache each consumer re-runs the pair
    * graph + star contraction (~5 s at sf0.1). localCheckpoint
    * materializes eagerly and truncates lineage; the table is one
    * (doc_id, rep) row per doc — bounded, executor-memory safe. */
  private val clusterCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  def d6DedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterCache.computeIfAbsent((s.sparkContext.applicationId, dir),
      _ => graft.SessionCaches.pin(d6ClustersOf(s, dir, d2bDedupNgramCapped)))

  /** D6 body over an arbitrary (doc_a, doc_b) pair source. */
  def d6ClustersOf(s: SparkSession, dir: String,
      pairSource: (SparkSession, String) => DataFrame): DataFrame = {
    val pairs = pairSource(s, dir).select("doc_a", "doc_b")
    val (labels, _) = alternatingStarLabels(pairs)
    Tables.documents(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
  }

  /** Connected components over an undirected (doc_a, doc_b) pair set
    * → (doc_id, rep = component min) for every CONNECTED vertex, plus
    * the number of large-star/small-star rounds run (exposed so the
    * convergence-speed contract is testable; 0 on the local finish).
    *
    * The edge set is materialized once, then ONE job collects at most
    * `cap + 1` of its edges, `cap` = [[localFinishCap]]. At or under
    * the cap the graph is finished on the driver by union-find and
    * the labels return as a local frame with the rounds path's exact
    * schema — small enough by construction that a consumer's join
    * broadcasts it. Driver memory is bounded by the cap, never by
    * the input. Above it the distributed rounds below run.
    *
    * Rounds invariant (paper §3): both operations connect nodes only
    * to smaller nodes in the same component, and the component
    * minimum only ever acquires edges — so the fixpoint is a disjoint
    * union of stars centered on each component's min, and `rep`
    * equals the recursive-closure min the oracle computes. Edges are
    * kept directed high→low between rounds; large-star reads the
    * symmetric view (one union, no extra shuffle beyond its agg).
    * Convergence = the directed edge set reaches a fixpoint (equal
    * cardinality + empty one-way except over two distinct sets). */
  private[graft] def alternatingStarLabels(
      pairs: DataFrame): (DataFrame, Int) = {
    val s = pairs.sparkSession
    val edges = graft.ops.Rounds.materialize(edgeSet(pairs))
    val cap = localFinishCap(s)
    // coalesce(1): the bounded take scans one partition, so it is one
    // job however the edge set is partitioned
    val head = edges.coalesce(1).limit(cap + 1).collect()
    if (head.length > cap) starRounds(edges)
    else {
      // the schema a round's labels carry (analysis only, no job)
      val schema = starLabels(starRound(edges)).schema
      val labels = localStarLabels(s, head, schema)
      graft.ops.Rounds.release(edges)
      (labels, 0)
    }
  }

  /** One large-star/small-star round over a directed edge set, as a
    * lazy plan. */
  private def starRound(edges: DataFrame): DataFrame = {
    // LARGE-STAR: for every node, link each strictly-LARGER
    // neighbor to min(Γ(u) ∪ {u}) — long paths fold in half
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val lsMin = sym.groupBy("u").agg(min("v").as("mn"))
    val ls = sym.join(lsMin, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
      .distinct()
    // SMALL-STAR: for every node, link its smaller-or-self
    // neighborhood (incl. itself) to that neighborhood's min
    val ssMin = ls.groupBy("u").agg(min("v").as("mn"))
    ls.join(ssMin, "u")
      .select(col("v").as("u"), col("mn").as("v"))
      .union(ssMin.select(col("u"), col("mn").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** The rounds path of [[alternatingStarLabels]], from its
    * materialized non-empty edge set. */
  private def starRounds(first: DataFrame): (DataFrame, Int) = {
    var edges = first
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val ss = graft.ops.Rounds.materialize(starRound(edges))
      // fixpoint test in ONE job (round 14 — was count + exceptAll,
      // two jobs; the loop's wall cost at bench scale is job-count ×
      // scheduler latency, not data): ss and edges are both DISTINCT
      // sets, so set equality ⟺ their multiset symmetric difference
      // is empty — one ±1-weighted union, one keyed sum, short-
      // circuiting take(1)
      converged = ss.select(col("u"), col("v"), lit(1L).as("w"))
        .unionAll(edges.select(col("u"), col("v"), lit(-1L).as("w")))
        .groupBy("u", "v").agg(sum("w").as("d"))
        .filter(col("d") =!= 0).isEmpty
      // round k's edges are materialized and the convergence check
      // (the only reader of round k−1) has run — release k−1's blocks
      // instead of holding every round's generation until query end
      graft.ops.Rounds.release(edges)
      edges = ss
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"d6 star contraction did not converge in $rounds rounds")
    (starLabels(edges), rounds)
  }

  /** The canonical edge set of a pair source: undirected pairs
    * directed high→low, self-loops dropped, duplicates merged. */
  private[graft] def edgeSet(pairs: DataFrame): DataFrame =
    pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** (doc_id, rep) of a converged star edge set: each leaf's center
    * and each center itself. */
  private def starLabels(edges: DataFrame): DataFrame =
    edges
      .select(col("u").as("doc_id"), col("v").as("rep"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("rep")))
      .groupBy("doc_id").agg(min("rep").as("rep"))

  /** Bytes Spark's size estimate charges one local label row: the
    * 8-byte row header plus two 8-byte longs. */
  private val LabelRowBytes = 24L

  /** Largest edge set [[alternatingStarLabels]] finishes on the
    * driver, derived from `spark.sql.autoBroadcastJoinThreshold`, not
    * set on its own: E edges touch at most 2E vertices, so a graph of
    * threshold / (2 × 24) edges yields a label frame that Spark's
    * estimate still places under the threshold — its consumers'
    * joins broadcast it, and the driver never holds more than that
    * many edges (about 218k at the 10 MB default). A disabled
    * broadcast (threshold ≤ 0) gives cap 0: every non-empty graph
    * takes the rounds. */
  private[graft] def localFinishCap(s: SparkSession): Int = {
    val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) 0
    else math.min(threshold / (2 * LabelRowBytes), Int.MaxValue - 1L).toInt
  }

  /** Component minimum of every vertex of `edges` (u, v rows), by
    * union-find on the driver, as a local frame of `schema`. Roots
    * are always their component's minimum: a union hangs the larger
    * root under the smaller. */
  private def localStarLabels(s: SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { e =>
      val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = parent.keys.toSeq.sorted
      .map(v => org.apache.spark.sql.Row(v, find(v)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Pre-coalesce exchange width for compute-dense stages — see
    * [[graft.ops.Exchanges.sessionShuffleWidth]]. */
  private def sessionShuffleWidth(s: SparkSession): Int =
    graft.ops.Exchanges.sessionShuffleWidth(s)

  /** The production stop-shingle cap — shared by the Scala kernel and
    * the DuckDB oracle CTE so both gates express identical semantics. */
  val StopShingleCap = 1000

  /** D2b — d2 with the hot-shingle guard on (see above). */
  def d2bDedupNgramCapped(s: SparkSession, dir: String): DataFrame =
    d2Impl(s, dir, cap = StopShingleCap)

  private[graft] def d2Impl(s: SparkSession, dir: String,
      cap: Int): DataFrame =
    d2PairsOf(Tables.documents(s, dir).select("doc_id", "text"), cap)

  /** The d2/d2b kernel over an arbitrary (doc_id, text) frame — the
    * pair source the e2e curation pipeline runs on its SURVIVING
    * docs (near-dup pruning after the cheap per-row gates, so the
    * quadratic-in-candidates stage sees the smallest corpus). */
  private[graft] def d2PairsOf(docs: DataFrame, cap: Int): DataFrame =
    pairStats(docs, cap)
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= 0.4)
      .select(col("doc_a"), col("doc_b"), Det.r4(col("jaccard")).as("jaccard"))

  /** The shingle-blocked pair-statistics kernel behind d2/d2b/d12:
    * (doc_a, doc_b, shared, n_a, n_b) for every candidate pair with
    * at least one shared shingle — every overlap measure (Jaccard,
    * containment, dice, …) is arithmetic over these three counts, so
    * the measures share one shuffle topology and one cap semantics. */
  private[graft] def pairStats(docs: DataFrame, cap: Int): DataFrame = {
    // the one canonical (doc_id, shingle) explode — shared with the
    // d11 delta-gate path so the two can never drift
    val exploded = shinglePairs(docs)
    // MINIMAL-SHUFFLE, SORT-FREE shape (round 13). History of this
    // kernel, all falsified BY MEASUREMENT at sf10 on an 8 GB heap:
    // (r11) groupByKey+flatMapGroups — JVM-object sort, 34.6 GB
    // spill; (r12) count-over-window stop filter + shingle
    // equi-self-join — still ~35 GB spill, misattributed to the pair
    // agg: the executed plan showed the real spillers were SORTS
    // (the window sorts the full exploded frame, and localCheckpoint
    // surfaces as UnknownPartitioning(0), so the self-join
    // re-exchanged AND re-sorted BOTH survivor replicas — three
    // ~35 GB sort passes); (r13 attempts) an explicit candidate-mass
    // repartition of the agg moved nothing, and SHUFFLE_HASH joins
    // hard-OOM'd under AQE's byte-based coalescing (hash BUILDS are
    // blind-sized). The shape below has no sort, no join, and no
    // unbounded buffer: ONE exchange clusters the exploded frame by
    // shingle, the per-shingle aggregate carries (df, doc-id list),
    // the cap drops stop shingles, and C(df,2) ordered pairs emit
    // from each kept list by a codegen'd array expression straight
    // into the (doc_a, doc_b) hash count. Buffer bound: every
    // exploded row lands in exactly ONE list, so aggregate state per
    // partition ≈ the partition's share of the exploded frame
    // (~16 MB/task at sf10 across 256 AQE partitions); a corpus-hot
    // shingle buffers df ids (≤ n_docs longs, a few MB) until the
    // cap drops it — the window form paid a full 35 GB sort to avoid
    // exactly that, a 1000× bad trade. Pair semantics are identical:
    // a shingle with 2 ≤ df ≤ cap contributes exactly its C(df,2)
    // ordered pairs (least/greatest normalizes, so the list's
    // collect order cannot matter).
    // repartition-then-group: the explicit clustering satisfies the
    // aggregate's required distribution, so Spark plans ONE complete
    // agg after the exchange instead of partial+final — a partial
    // collect_list reduces nothing (every input row survives into a
    // buffer) while holding each MAP task's full shingle state
    // (measured as the residual sort-fallback spill at sf10); the
    // exchange itself ships the identical rows either way.
    // EXPLICIT width (round 14): this stage's cost is the C(df,2)
    // pair expansion — quadratic in rows, invisible in bytes — so
    // AQE's byte-based coalescing is structurally wrong for it: at
    // gate SF it squeezed d8's 17 MB exchange to 4 tasks carrying
    // ~15 s of summed pair-emission CPU while 28 cores idled (the
    // r13 verdict's d8 anti-scaling signal; OPTIMIZATION_r14.md).
    // Pinning the exchange at the session's configured initial width
    // disables the coalesce without changing sf10 behavior (there
    // the 35 GB frame never coalesced anyway: 256 × 137 MB).
    val pairs = exploded
      .repartition(sessionShuffleWidth(docs.sparkSession), col("s"))
      .groupBy("s")
      .agg(count(lit(1)).as("df"), collect_list(col("doc_id")).as("ids"))
      .filter(col("df") >= 2 && col("df") <= cap)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
             transform(slice(ids, i + 2, size(ids)),
               y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"""))
        .as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    val sizes = exploded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "n_b"), "doc_b")
  }

  private[graft] val D12PlantOffset = 5000000L
  private[graft] val D12PlantStride = 10L

  /** D12 — asymmetric CONTAINMENT dedup (Broder 1997's second
    * resemblance measure; the RefinedWeb/CCNet curation case Jaccard
    * structurally misses): a short document embedded verbatim inside
    * a much longer one has |A∩B|/|A| ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0
    * — quote pages, syndicated excerpts, boilerplate-wrapped copies.
    * Same [[pairStats]] kernel and stop-shingle cap as d2b (one
    * shuffle topology, identical candidate generation), different
    * arithmetic: emit pairs with containment ≥ 0.8 that the Jaccard
    * gate over the SAME corpus does NOT flag (< 0.4) — the
    * incremental catch of running containment beside the Jaccard
    * pass, plus which side is the contained (smaller) document.
    * (Disjointness is exact against d2PairsOf over the identical
    * plant-augmented corpus — both filters read one pairStats run;
    * vs the plant-free d2b it holds except in the measure-zero case
    * of a shingle whose corpus frequency straddles the cap only with
    * the plants counted.) Under the filter the sides can
    * never tie: equal set sizes with containment ≥ 0.8 force Jaccard
    * ≥ 2/3. The corpus is augmented with planted 30-token prefix
    * docs (doc_id % 10 ≡ 3, id + 5M — the n7/d7 planted-fixture
    * pattern) so the gate provably fires at every SF; the oracle
    * replays the identical plant. Cap semantics carry over: a
    * corpus-hot shingle drops from `shared` but not the set sizes,
    * so containment only decreases — identically in both engines. */
  /** The plant-augmented corpus d12 measures over (exposed so the
    * spec can run the Jaccard gate on the IDENTICAL doc set). */
  private[graft] def d12Corpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.unionByName(docs
      .filter(col("doc_id") % D12PlantStride === 3)
      .select((col("doc_id") + D12PlantOffset).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 30), " ")
          .as("text")))
  }

  def d12Containment(s: SparkSession, dir: String): DataFrame =
    pairStats(d12Corpus(s, dir), StopShingleCap)
      .withColumn("containment",
        col("shared") / least(col("n_a"), col("n_b")))
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("containment") >= 0.8 && col("jaccard") < 0.4)
      .select(col("doc_a"), col("doc_b"),
        when(col("n_a") <= col("n_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_doc"),
        Det.r4(col("containment")).as("containment"))

  private val NumHashes = 16
  private val BandSize = 4 // 4 bands × 4 rows

  /** (doc_id, band_idx, band_hash) LSH band signatures for any
    * (doc_id, text) frame — the d3 kernel factored out so the
    * streaming near-dup gate indexes a static corpus and hashes
    * incoming micro-batches with the IDENTICAL scheme (signatures
    * are only comparable when seeds, hash count, and banding all
    * match). Shape notes in [[d3DedupMinhashLsh]]. */
  private[graft] def bandedSignatures(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val hashed = docsDf
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) => shingleSet(text).map((id, _)) }
      .toDF("doc_id", "s")
      .select(col("doc_id") +: (0 until NumHashes).map(j =>
        xxhash64(lit(j), col("s")).as(s"h$j")): _*)
    val sigs = hashed.groupBy("doc_id")
      .agg(min("h0").as("m0"),
        (1 until NumHashes).map(j => min(s"h$j").as(s"m$j")): _*)
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      xxhash64(lit(b) +: (0 until BandSize).map(i =>
        col(s"m${b * BandSize + i}")): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandCols: _*))
      .as(Seq("band_idx", "band_hash")))
  }

  /** D3 — MinHash + LSH banding near-dup candidates (Broder 1997,
    * "On the resemblance and containment of documents"; banding per
    * Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3),
    * verified with exact Jaccard (>= 0.4). The scale path for d2:
    * shuffle is on (band index, band hash) — candidates only, never
    * all pairs.
    * Signature: minhash_j = min over shingles of xxhash64(j, shingle);
    * band hash = xxhash64 of its 4 signature rows. No oracle (murmur/
    * xxhash not reproducible in ANSI SQL); parity with d2 is asserted
    * in ScalaTest (LSH candidates recover all d2 pairs at j >= 0.4
    * w.h.p., and every emitted pair passes the same exact filter). */
  def d3DedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    d3PairsOf(Tables.documents(s, dir).select("doc_id", "text"))

  /** The d3 kernel over an arbitrary (doc_id, text) frame — shared
    * by the corpus query and the planted oracle gate. */
  private[graft] def d3PairsOf(docsDf: DataFrame): DataFrame = {
    // Explode shingles FIRST, hash each once per seed, then min() in a
    // codegen'd hash aggregate — higher-order array lambdas
    // (transform/aggregate) run on Catalyst's interpreted path and are
    // ~100× slower, and Catalyst may inline them repeatedly across a
    // self-join. The explode+groupBy shape is also the scalable one:
    // one keyed shuffle on doc_id, partial min map-side.
    val docs = docsDf.select(col("doc_id"), shingles.as("sh"))
    // the self-join below references the signature frame twice;
    // unpersisted, EACH side re-runs the whole signature pipeline
    // (text scan → shingle flatMap → 16 hashes per shingle → minhash
    // agg → band hash). The frame itself is tiny — 4 (doc_id,
    // band_idx, band_hash) rows per document — so persisting it
    // trades ~nothing for computing the corpus pass once (the
    // NearDupStream corpusBands precedent). The shingle-ARRAY frame
    // (`docs`) is deliberately NOT persisted: it is text-sized, and
    // its two verification joins key on different columns anyway —
    // recompute beats caching a corpus-scale frame (the pairStats
    // trade, guide §5).
    val banded = bandedSignatures(docsDf).persist()
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSets = candidates
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
    withSets
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= 0.4)
      .select(col("doc_a"), col("doc_b"), Det.r4(col("jaccard")).as("jaccard"))
  }

  /** D4 — SimHash near-dup pairs (Charikar 2002, "Similarity
    * estimation techniques from rounding algorithms"; chunked-index
    * candidate blocking per Manku et al. 2007). 64-bit signature:
    * bit i gets +1/-1 per token according to bit i of the token hash;
    * sign of the sum is the bit. Candidates block on 16-bit chunks (any equal chunk →
    * candidate; Hamming distance <= 3 guarantees one of 4 chunks
    * matches), verified by exact Hamming distance. No oracle
    * (bit-level hashing) — ScalaTest'd on planted near-dups. */
  def d4DedupSimhash(s: SparkSession, dir: String): DataFrame =
    d4PairsOf(Tables.documents(s, dir).select("doc_id", "text"))

  /** The d4 kernel over an arbitrary (doc_id, text) frame — shared
    * by the corpus query and the planted oracle gate. */
  private[graft] def d4PairsOf(docsDf: DataFrame): DataFrame = {
    // The signature is a pure per-document computation — no shuffle at
    // all: a mapPartitions kernel tokenizes, hashes each token once
    // (two murmur32 rounds → 64 bits) and folds ±1 bit counts in a
    // primitive array. Strictly better than the earlier
    // explode + 64-column hash-agg (which shuffled 1.5M token rows at
    // sf0.1); only the tiny (doc_id, simhash) table enters the
    // banding join below.
    val s = docsDf.sparkSession
    import s.implicits._
    val docs = docsDf
      .as[(Long, String)]
      .mapPartitions { it =>
        import scala.util.hashing.MurmurHash3
        it.map { case (id, text) =>
          val counts = new Array[Int](64)
          val n = text.length
          var start = 0
          var i = 0
          while (i <= n) {
            if (i == n || text.charAt(i) == ' ') {
              if (i > start) {
                val tok = text.substring(start, i)
                val h = (MurmurHash3.stringHash(tok, 0x9747b28c).toLong
                  << 32) |
                  (MurmurHash3.stringHash(tok, 0x85ebca6b).toLong
                    & 0xffffffffL)
                var b = 0
                while (b < 64) {
                  if (((h >>> b) & 1L) == 1L) counts(b) += 1
                  else counts(b) -= 1
                  b += 1
                }
              }
              start = i + 1
            }
            i += 1
          }
          var sig = 0L
          var b = 0
          while (b < 64) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
          (id, sig)
        }
      }.toDF("doc_id", "simhash")
    val chunked = docs.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        """transform(sequence(0, 3),
           b -> shiftright(simhash, b * 16) & 65535L)"""))
        .as(Seq("chunk_idx", "chunk")))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      // Hamming verify BEFORE the dedup shuffle: the filter is a
      // codegen'd per-row predicate and kills the overwhelming
      // majority of chunk collisions (random 16-bit matches), so the
      // distinct's exchange carries only true near-dup pairs (≤ 4
      // copies each — one per matching chunk) instead of every
      // candidate. Same result set: distinct∘filter ≡ filter∘distinct
      // for a deterministic per-row predicate.
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** Planted-gate id space for [[d3bMinhashPlantedGate]] /
    * [[d4bSimhashPlantedGate]] — far above any organic doc_id, and
    * OffsetA < OffsetB so a planted pair's (min, max) orientation is
    * closed-form. */
  private[graft] val GateOffsetA = 1L << 44
  private[graft] val GateOffsetB = (1L << 44) + (1L << 43)

  /** Synthetic EXACT-duplicate doc pairs with corpus-disjoint
    * vocabulary, seeded from every [[D7PlantStride]]-th organic
    * doc_id: copies A (id + OffsetA) and B (id + OffsetB) share the
    * identical 12-token text `pg<id>t0 … pg<id>t11`, and no token —
    * hence no 3-gram shingle — appears in any organic document or any
    * other planted pair. So within the planted id space the ONLY
    * similarity structure is (A_id, B_id) at Jaccard exactly 1.0 /
    * Hamming exactly 0, a closed form the DuckDB oracle states from
    * `documents` alone without reproducing a single hash. */
  private[graft] def plantedGateDocs(s: SparkSession, dir: String)
      : DataFrame = {
    val seeds = Tables.documents(s, dir)
      .filter(col("doc_id") % D7PlantStride === 0).select("doc_id")
    val text = concat_ws(" ", (0 until 12).map(j =>
      concat(lit("pg"), col("doc_id"), lit(s"t$j"))): _*)
    seeds.select((col("doc_id") + GateOffsetA).as("doc_id"),
        text.as("text"))
      .union(seeds.select((col("doc_id") + GateOffsetB).as("doc_id"),
        text.as("text")))
  }

  /** D3B — the MinHash-LSH ORACLE GATE (the n7 pattern): run the
    * full d3 kernel — shingle → 16 minhashes → 4-row bands →
    * band-bucket join → exact-Jaccard verify — over the organic
    * corpus UNION the planted pairs, then restrict to the planted id
    * space. An exact duplicate has the identical shingle set, hence
    * the identical signature, hence collides in EVERY band with
    * probability 1 — no LSH luck involved — and its verify score is
    * exactly 1.0; disjoint vocabulary rules out every other pair in
    * the restriction. The organic corpus still flows through the
    * banding join, so the gate exercises the production shuffle
    * shape, not a toy. Unrestricted d3 stays rows-only: which
    * ORGANIC near-dups LSH surfaces is hash-scheme-specific by
    * design (DedupSimSpec pins that envelope). */
  def d3bMinhashPlantedGate(s: SparkSession, dir: String): DataFrame =
    d3PairsOf(Tables.documents(s, dir).select("doc_id", "text")
        .union(plantedGateDocs(s, dir)))
      .filter(col("doc_a") >= GateOffsetA)

  /** D4B — the SimHash ORACLE GATE: identical construction for d4.
    * Exact duplicates have identical token streams, hence identical
    * 64-bit signatures — every 16-bit chunk collides and the exact
    * Hamming verify reads 0; cross-pair signatures over disjoint
    * random vocabularies sit ~32 bits apart, astronomically outside
    * the ≤3 gate (and deterministically so for a fixed corpus — the
    * oracle sweep would catch a collision, none exists at any test
    * scale). */
  def d4bSimhashPlantedGate(s: SparkSession, dir: String): DataFrame =
    d4PairsOf(Tables.documents(s, dir).select("doc_id", "text")
        .union(plantedGateDocs(s, dir)))
      .filter(col("doc_a") >= GateOffsetA)

  /** D5 — embedding-cosine near-dup pairs, brute force (the oracle
    * baseline; n2SimLshTopk / n3SimIvfTopk in graft.sim are the
    * sub-quadratic scale paths).
    *
    * Block-broadcast tiling, processed SEQUENTIALLY: the corpus is
    * hashed into blocks of at most ~`blockSize` vectors; each pass
    * collects ONE block (100k × 64 dims × 8 B ≈ 51 MB), broadcasts
    * it, streams the full distributed table against it in a
    * primitive-array flatMap kernel (Catalyst array lambdas run
    * interpreted — 24 s at sf0.1; a flat 64-term expression falls out
    * of codegen limits), then MATERIALIZES the tile's (sparse) output
    * via eager `localCheckpoint` and `destroy()`s the broadcast
    * before the next block is collected. Lineage truncation is what
    * makes the bound real: without it every broadcast stays
    * referenced by the unioned plan and peak driver memory is the
    * whole corpus. With it, the driver holds one block at a time and
    * the tile outputs live distributed in executor block storage
    * (MEMORY_AND_DISK; on a real cluster, `checkpoint` to durable
    * storage is the fault-tolerant variant of the same move).
    *
    * A pair (a,b), a<b, is emitted exactly once: in the pass that
    * broadcasts a's block. Total flops stay O(n²) — brute force is
    * the point — but no single collect, broadcast, or task exceeds
    * one block, so the same code runs at cluster scale.
    *
    * Bit-exactness vs the DuckDB oracle is preserved: float→double
    * conversion is exact, and the dot/norm sums accumulate in index
    * order — the same IEEE op sequence as list_sum(list_transform). */
  def d5DedupEmbedding(s: SparkSession, dir: String): DataFrame =
    d5Tiled(s, dir, blockSize = 100000)

  /** Corpus ceiling for the deliberately-quadratic d5 baseline
    * (VERDICT r9's operational caveat, made an enforced contract):
    * d5 exists to ORACLE-GATE the sub-quadratic paths, and its total
    * flops are O(n²) however the tiles are cut — at 5M vectors
    * that is already ~10¹³ dot-product flops plus 50 sequential
    * block passes. Far above every gate SF, far below any real
    * corpus: pointing d5 at production data now fails loudly with
    * directions instead of silently burning a cluster. */
  private[graft] val D5MaxRows = 5000000L

  private[graft] def d5Tiled(s: SparkSession, dir: String,
      blockSize: Int, maxRows: Long = D5MaxRows): DataFrame = {
    import s.implicits._
    val vecs = Tables.embeddings(s, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, v) =>
        val d = new Array[Double](v.length)
        var acc = 0.0; var k = 0
        while (k < v.length) {
          d(k) = v(k).toDouble; acc += d(k) * d(k); k += 1
        }
        (id, d, math.sqrt(acc))
      }
    val n = vecs.count()
    require(n <= maxRows,
      s"d5 brute-force cosine scan is the O(n²) ORACLE BASELINE: " +
        s"$n vectors exceeds its $maxRows-row ceiling — use the " +
        "sub-quadratic production paths it gates (d7PairsOf SRP-LSH " +
        "banding, d9 SemDeDup) for a corpus of this size")
    val numBlocks = math.max(1, ((n + blockSize - 1) / blockSize).toInt)
    val tiles = (0 until numBlocks).map { b =>
      val block = vecs
        .filter(pmod(xxhash64(col("_1")), lit(numBlocks)) === b)
        .collect()
      val bc = s.sparkContext.broadcast(block)
      val tile = vecs.flatMap { case (idB, vb, nb) =>
        val blk = bc.value
        blk.iterator.flatMap { case (idA, va, na) =>
          if (idA >= idB) Iterator.empty
          else {
            var dot = 0.0; var k = 0
            while (k < va.length) { dot += va(k) * vb(k); k += 1 }
            val cos = dot / (na * nb)
            if (cos >= 0.45) Iterator.single((idA, idB, cos))
            else Iterator.empty
          }
        }
      }.localCheckpoint(true) // eager: tile computed NOW, lineage cut
      bc.destroy()            // safe: checkpoint no longer needs it
      tile
    }
    tiles.reduce(_ union _)
      .toDF("vec_a", "vec_b", "cosine")
      .select(col("vec_a"), col("vec_b"), Det.r6(col("cosine")).as("cosine"))
  }

  /** Max settled bucket occupancy before the trie cut deepens it,
    * and the per-round depth extension. Cap 128 bounds settled pair
    * mass at ≤ 64·occ per member; step 8 reaches full depth from the
    * base in ≤ ⌈(64−base)/8⌉ rounds. */
  private[graft] val D7HotBucketCap = 128
  private[graft] val D7SplitStep = 8

  /** ADAPTIVE-DEPTH bucket assignment (the LSH-forest idea, Bawa et
    * al. 2005): every (vec, table) carries a full 64-plane signature
    * ([[graft.sim.Similarity.sigsOf]]); buckets start as the
    * `basePlanes`-bit prefix and any bucket over [[D7HotBucketCap]]
    * has its members' depth extended by [[D7SplitStep]] bits, until
    * all buckets fit or depth 64. Why occupancy must be cut PER
    * BUCKET and not by a global plane count: the n/2^b expected-
    * occupancy argument assumes sign-pattern diversity, and real
    * (clustered) embedding corpora saturate it — the r12 sf10 probe
    * measured 200k vectors occupying only ~22k–39k distinct buckets
    * at 22 planes (4M possible), hot clusters of ~3 000 that NO
    * global plane count splits, and a ~230M-pair kernel for
    * near-zero verified output. The trie cut puts extra bits only
    * where the data needs them: same probe settles every bucket at
    * ≤ 128 within 8 rounds, 13.7M pairs (17× down). Each round costs
    * one count-aggregate + one join over the n·L sig rows (longs, no
    * embeddings) — O(n·L·rounds) total, nothing touches pairs until
    * buckets are bounded. A bucket still hot AT depth 64 is a set of
    * sign-identical vectors — overwhelmingly true duplicates, whose
    * pairs are genuine output the verify must see anyway.
    *
    * Exactness: identical embeddings have identical signatures, sit
    * in the same group at every round, and so end at the same
    * (depth, bucket) in EVERY table — the d7 gate's recall-1.0
    * guarantee survives any cut. */
  private[graft] def d7SettledBuckets(corpus: DataFrame,
      basePlanes: Int, numTables: Int): DataFrame =
    d7Settle(graft.sim.Similarity.sigsOf(corpus, numTables), basePlanes)

  /** The settle loop over a precomputed (vec_id, table_id, sig)
    * frame — split from [[d7SettledBuckets]] so [[d7PairsOf]] can
    * compute the signatures ONCE and feed both the trie cut and the
    * Hamming recovery tier ([[d7NearDupCandidates]]). */
  private[graft] def d7Settle(sigs: DataFrame,
      basePlanes: Int): DataFrame = {
    val mask = when(col("depth") >= 64, lit(-1L))
      .otherwise(expr("shiftleft(1L, depth)") - 1)
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("bucket", col("sig").bitwiseAND(mask))
    var cur = bucketed(sigs.withColumn("depth", lit(basePlanes)))
    var rounds = 0
    val maxRounds = (64 - basePlanes + D7SplitStep - 1) / D7SplitStep
    while (rounds >= 0 && rounds < maxRounds) {
      val occ = cur.groupBy("table_id", "depth", "bucket")
        .agg(count(lit(1)).as("occ"))
      // localCheckpoint: cut the per-round lineage (d6's star-
      // contraction discipline) — n·L rows of longs, eager
      val joined = cur
        .join(occ, Seq("table_id", "depth", "bucket"))
        .localCheckpoint(true)
      if (joined.filter(col("occ") > D7HotBucketCap &&
            col("depth") < 64).isEmpty) {
        rounds = -1 // settled: every bucket fits or is at full depth
        cur = joined.drop("occ")
      } else {
        cur = bucketed(joined
          .withColumn("depth",
            when(col("occ") > D7HotBucketCap && col("depth") < 64,
              least(col("depth") + D7SplitStep, lit(64)))
              .otherwise(col("depth")))
          .drop("occ", "bucket"))
        rounds += 1
      }
    }
    cur.select("vec_id", "table_id", "depth", "bucket")
  }

  /** Pigeonhole chunk count over the 64-bit signature (widths
    * 13/13/13/13/12): any pair at Hamming ≤ 4 shares a clean chunk
    * with certainty, and the miss odds beyond that need every chunk
    * hit. Radius [[D7HamMax]] = 10 is the band the recovery tier
    * defends: at cos 0.98 a 64-plane sig flips E = 64·θ/π ≈ 4.1 bits
    * (σ ≈ 2.0), so P(Ham ≤ 10) ≈ 0.998 — while the sf-corpus hot
    * clusters (within-copy cos ≤ 0.51, E[Ham] ≈ 21) land past the
    * radius with ≈ 0.3% odds, so cluster noise dies in the long-pair
    * filter BEFORE any member expansion or embedding gather.
    * [[D7HamTables]] = 2 plane sets double the chance:
    * recall ≈ 1−(1−r)² with r ≈ 0.94 per table at the 0.98 boundary. */
  private[graft] val D7HamChunks = 5
  private[graft] val D7HamChunkBits = 13
  private[graft] val D7HamMax = 10
  private[graft] val D7HamTables = 2

  /** NEAR-DUP RECOVERY TIER for the trie cut (r12 verdict task 1):
    * the adaptive-depth cut bounds occupancy, but a pair at the
    * τ=0.98 boundary inside a DEEPENED bucket collides per table
    * with p^64 ≈ 1.5% (Charikar: p ≈ 0.936/plane at cos 0.98) — the
    * cut provably keeps exact-dup recall and silently sheds near-dup
    * recall exactly where near-dups concentrate (hot regions). This
    * tier recovers them WITHOUT prefix collisions: candidates are
    * pairs of DISTINCT full signatures within Hamming radius
    * [[D7HamMax]], found by the pigeonhole chunk trick (Manku et al.
    * 2007, WWW — detecting near-duplicates for web crawling): split
    * the 64-bit sig into [[D7HamChunks]] chunks; a pair within the
    * radius shares at least one untouched chunk with high odds (with
    * certainty at Ham ≤ 4), so an equi-self-join per (chunk_idx,
    * chunk_val) + an exact popcount filter finds them — no n² scan.
    * Sign-identical members collapse to ONE row before the join
    * (exact-sig groups are the residue path's job), and member
    * expansion happens only after the Hamming filter, so the join
    * fan-out tracks true near-dup mass, not cluster occupancy.
    *
    * Scale shape: the join key space is tables·chunks·2^13, so
    * background collision mass grows as n_d²·C/2^13 per table (n_d =
    * distinct sigs). Fine through ~10^7 sigs; past that the key must
    * be extended with a coarse-quantizer cell id (route the recovery
    * through d9's IVF cells — the documented upgrade, trading the
    * cross-cell sliver of recall SemDeDup already trades). */
  private[graft] def d7NearDupCandidates(sigs: DataFrame): DataFrame = {
    val members = sigs.filter(col("table_id") < D7HamTables)
      .select("table_id", "sig", "vec_id")
    val reps = members.select("table_id", "sig").distinct()
    val chunkCols = (0 until D7HamChunks).map { k =>
      val off = k * D7HamChunkBits
      val width = math.min(D7HamChunkBits, 64 - off)
      shiftrightunsigned(col("sig"), off)
        .bitwiseAND(lit((1L << width) - 1L))
    }
    val chunked = reps.select(col("table_id"), col("sig"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk_idx", "chunk_val")))
    val repPairs = chunked.as("a").join(chunked.as("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.sig") < col("b.sig"))
      .select(col("a.table_id"), col("a.sig").as("sig_a"),
        col("b.sig").as("sig_b"))
      .filter(expr(s"bit_count(sig_a ^ sig_b) <= $D7HamMax"))
      .distinct()
    repPairs
      .join(members.select(col("table_id"), col("sig").as("sig_a"),
        col("vec_id").as("va")), Seq("table_id", "sig_a"))
      .join(members.select(col("table_id"), col("sig").as("sig_b"),
        col("vec_id").as("vb")), Seq("table_id", "sig_b"))
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"))
      .filter(col("vec_a") < col("vec_b"))
  }

  /** Core of d7: SRP-LSH-banded near-dup pair detection over any
    * (vec_id, embedding) frame — the sub-quadratic production path
    * that d5's brute-force tiling is the oracle baseline for. TWO
    * candidate tiers feed one exact-cosine verify: (1) pairs sharing
    * an adaptive-depth bucket ([[d7Settle]]) in ANY of the
    * `numTables` plane sets (OR-amplification — owns exact/near-exact
    * duplicates at ANY depth and bounds occupancy); (2) pairs of
    * distinct signatures within Hamming radius [[D7HamMax]]
    * ([[d7NearDupCandidates]] — owns τ-boundary near-dups that
    * deepened or base-depth prefixes would shed). Only candidates pay
    * the exact-cosine verify, and only verified pairs (≥ `tau`) are
    * emitted. Both tiers are equi-joins over bounded keys — never
    * the n² cross join.
    *
    * Dial math (Charikar 2002): a pair at angle θ collides per plane
    * with p = 1 − θ/π, per table with p^b at depth b. Tier 1 alone
    * decays at the τ=0.98 boundary (p^64 ≈ 1.5%/table in a deepened
    * bucket — the r12 gap) and even at a log-n base depth
    * (p^22 ≈ 0.24/table at sf10 scale); tier 2 is depth-independent:
    * E[Ham] = 64·θ/π ≈ 4.1 at cos 0.98, so P(Ham ≤ 10) ≈ 0.998 and
    * the pigeonhole join finds the pair regardless of where the trie
    * cut put it. Below cos ≈ 0.93 the radius decays by design —
    * that exploratory band belongs to d9/d5 (at d5's τ=0.45 no sane
    * SRP dial prunes, which is why that scan stays brute-force).
    * DedupSimSpec asserts ≥0.9 recall on cos≈0.98 boundary pairs
    * planted INSIDE an over-cap, fully-deepened cluster, ≥0.95 on
    * cos≈0.999 jitter, and bounded settled occupancy on the real
    * clustered corpus. */
  private[graft] def d7PairsOf(corpus: DataFrame, numPlanes: Int,
      numTables: Int, tau: Double): DataFrame = {
    // one signature pass feeds both tiers: n·L rows of longs,
    // checkpointed eagerly (the d6 lineage discipline)
    val sigs = graft.sim.Similarity
      .sigsOf(corpus.select("vec_id", "embedding"), numTables)
      .localCheckpoint(true)
    val buckets = d7Settle(sigs, numPlanes)
    val t1 = buckets.as("a").join(buckets.as("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.depth") === col("b.depth") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val candidates = t1.union(d7NearDupCandidates(sigs)).distinct()
    val emb = corpus.select("vec_id", "embedding")
    candidates
      .join(emb.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        GraftFunctions.floatCosine("ea", "eb").as("cosine"))
      .filter(col("cosine") >= tau)
      .select(col("vec_a"), col("vec_b"), Det.r6(col("cosine")).as("cosine"))
  }

  private[graft] val D7PlantStride = 25L
  private[graft] val D7PlantOffset = 1000000L

  /** BASE depth for the adaptive cut: planes grow with
    * ceil(log2 n) + 4 (floor 12), so the trie starts near the final
    * cut and [[d7SettledBuckets]] needs few rounds. An exact
    * duplicate collides in every table at ANY depth (p = 1 per
    * plane), so depth costs the gate no recall on its targets. Scale
    * history of this dial: fixed-12 planes went quadratic at sf1.0
    * (26.7× for 10× — round 6); the log dial restored ~linear growth
    * at ONE decade but the second decade (r12, sf10) falsified it —
    * clustered corpora saturate sign diversity, so no GLOBAL plane
    * count bounds hot buckets (measured 36.6× for 10×); occupancy is
    * now owned by the per-bucket trie cut, and this dial only picks
    * where it starts. */
  private[graft] def d7AutoPlanes(n: Long): Int = math.max(12,
    4 + (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))))

  /** D7 — embedding near-dup pairs at a TRUE-duplicate threshold
    * (τ=0.9) via [[d7PairsOf]]. The raw embeddings table tops out
    * near cosine 0.51 (by construction — see d5), so to give the
    * gate a deterministic non-empty answer the query plants exact
    * duplicates of every `D7PlantStride`-th vector under offset ids
    * (the x13 planted-corpus precedent): an exact copy hashes to the
    * same bucket in EVERY table, so LSH recall on the planted truth
    * is 1.0 by construction, and the DuckDB oracle can state the
    * expected answer as the brute-force τ-filter over the same
    * planted corpus. */
  def d7DedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") % D7PlantStride === 0)
      .select((col("vec_id") + D7PlantOffset).as("vec_id"),
        col("embedding"))
    val corpus = base.union(planted)
    // dial n from two column-pruned counts (parquet metadata + one
    // vec_id column scan) instead of counting the union — which
    // would drag the wide embedding column through a full extra
    // pass before any real work. The two LSH passes inside
    // d7PairsOf re-read the pruned columns they need; at corpus
    // scale re-reading beats pinning the table in cache.
    d7PairsOf(corpus,
      numPlanes = d7AutoPlanes(base.count() + planted.count()),
      numTables = 4, tau = 0.9)
  }

  private val ParaTokens = 25
  /** pid = doc_id · 1024 + para_idx — 1024 paragraph slots per doc
    * (≥ 25k tokens/doc headroom at the 25-token grain; docs here top
    * out well under that, and the encoding is checked nowhere else,
    * so a longer doc would need a wider slot shift, not a new
    * algorithm). */
  private val ParaSlot = 1024L

  /** D8 — PARAGRAPH-grain near-dup dedup: the standard curation step
    * between d1 (doc-exact) and d2b (doc-near-dup) — RefinedWeb/
    * Gopher-style removal of boilerplate paragraphs that repeat
    * across otherwise-distinct documents, without dropping the whole
    * document.
    *
    * Pipeline (all existing kernels, applied one grain down):
    * explode each doc into fixed 25-token paragraphs (this corpus has
    * no structural delimiters — with real text the split is on
    * "\n\n"; every downstream stage is delimiter-agnostic) → the d2b
    * capped-shingle Jaccard pair graph over (pid, para_text) → the
    * d6 star-contraction keep-list → re-aggregate per document into
    * kept-paragraph counts and token mass (the span summary a
    * paragraph-pruning writer logs).
    *
    * Scale shape: the explode multiplies rows by ~docLen/25 but every
    * stage after it is the d2b/d6 machinery whose bounds don't care
    * about grain (cap² per-task pair expansion, edge-scale star
    * contraction); the paragraph re-aggregation is one keyed hash
    * agg back to doc grain.
    *
    * The organic corpus has few identical paragraphs, so the query
    * PLANTS duplicates deterministically (the x13/d7 precedent):
    * every 10th doc is prepended a bucket-tagged 25-token paragraph,
    * buckets = (doc_id/10) mod 25 — each bucket's copies collide at
    * jaccard 1.0 and must collapse to the bucket's min pid; organic
    * near-dup paragraphs are detected by the same graph. Oracle
    * replays everything (planting, segmentation, capped pair graph,
    * recursive reachability, keep rule) in SQL. */
  def d8DedupParagraphs(s: SparkSession, dir: String): DataFrame = {
    val plantPara = array_join(transform(sequence(lit(0), lit(24)),
      i => concat(lit("dupb"),
        expr("cast((doc_id div 10) % 25 AS string)"),
        lit("t"), i.cast("string"))), " ")
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(plantPara, lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
    // The tokenization is bound to a lambda VARIABLE (transform over
    // a single-element array) so split() runs ONCE per document: the
    // previous direct column reference was inlined by CollapseProject
    // into the generator lambda — the committed r14 before-plan shows
    // split(text) twice inside Generate, once per PARAGRAPH via
    // slice(split(...)) — re-tokenizing each doc ~len/25 times,
    // O(len²/ParaTokens) per doc (guide §4: hoist expensive
    // subexpressions out of per-element lambdas).
    val paras = docs
      .select(col("doc_id"), posexplode(expr(
        s"""transform(array(split(text, ' ')), toks ->
              transform(sequence(0,
                  cast(ceil(size(toks) / ${ParaTokens.toDouble}) as int) - 1),
                i -> array_join(
                  slice(toks, i * $ParaTokens + 1, $ParaTokens), ' ')))[0]"""))
        .as(Seq("para_idx", "ptext")))
      .select(col("doc_id"),
        (col("doc_id") * ParaSlot + col("para_idx")).as("pid"),
        col("ptext"))
    val pairs = d2PairsOf(
      paras.select(col("pid").as("doc_id"), col("ptext").as("text")),
      StopShingleCap)
    val (labels, _) = alternatingStarLabels(
      pairs.select(col("doc_a"), col("doc_b")))
    paras
      .join(labels.withColumnRenamed("doc_id", "pid"), Seq("pid"), "left")
      .withColumn("is_kept",
        col("rep").isNull || col("rep") === col("pid"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_kept"), size(split(col("ptext"), " "))
          .cast("long")).otherwise(0L)).as("n_kept_tokens"))
  }

  private[graft] val D9PlantStride = 20L
  private[graft] val D9PlantOffset = 2000000L
  private[graft] val D9Tau = 0.9

  /** D9 — SEMANTIC dedup (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then
    * prune within each cluster any vector whose cosine to another
    * cluster member exceeds τ, keeping one representative per
    * duplicate group. The scalable shape is the paper's: clustering
    * makes the pair graph BLOCK-LOCAL — within-cell pairs only, an
    * equi-join on the cell id, never the n² cross join — and the
    * clusterer is exactly the IVF coarse quantizer n3 already fits
    * (shared [[graft.sim.Similarity.fitCentroids]] /
    * [[graft.sim.Similarity.cosineAssign]] kernels: capped-sample
    * k-means fit + broadcast zero-shuffle assignment).
    *
    * At 100 TB, cells dial with √(n/2) here (the n3 dial); a
    * production deployment dials cells ∝ n / targetCellSize so
    * per-cell pair cost is a CONSTANT independent of corpus size —
    * the paper runs 50k clusters on LAION. Grouping uses the d6
    * star-contraction keep-list (min-id representative — the paper
    * keeps an arbitrary/centroid-far member; min-id is the
    * deterministic choice every other dedup gate here uses).
    *
    * Organic cosines top out near 0.51 (see d5), so at τ=0.9 the
    * organic corpus must survive intact and the planted exact
    * duplicates (every `D9PlantStride`-th vector under offset ids —
    * the d7/x13 precedent) are the complete truth: an exact copy
    * assigns to its original's cell with p=1 (same vector, same
    * deterministic argmax), collides at cosine 1.0, and the min-id
    * rule keeps the original. The DuckDB oracle states that
    * closed-form answer. */
  def d9SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") % D9PlantStride === 0)
      .select((col("vec_id") + D9PlantOffset).as("vec_id"),
        col("embedding"))
    d9KeepList(base.union(planted), D9Tau)
  }

  /** D9 body over any (vec_id, embedding) corpus: fit → assign →
    * within-cell τ-filtered pair graph → d6 keep-list. Returns
    * (vec_id, rep, kept) for every input vector. */
  private[graft] def d9KeepList(corpus: DataFrame, tau: Double)
      : DataFrame = {
    import graft.sim.Similarity
    val total = corpus.count()
    val (cells, _) = Similarity.n3AutoDial(total)
    val cents = Similarity.fitCentroids(corpus, cells, total)
    val assigned = Similarity.cosineAssign(corpus, cents)
    // Within-cell pairs via the d2b list-kernel shape (round 14 —
    // was a cell-keyed self-join whose two sides each recomputed the
    // scan + assignment kernel, i.e. TWO corpus passes feeding one
    // equi-join): ONE exchange clusters the corpus by cell, the
    // per-cell aggregate collects (id, vec) members, and all C(m,2)
    // within-cell cosines emit from each list — one corpus pass, no
    // join. Buffer bound: a cell's member list is cellSize vectors
    // (≈ √(2n) at the √(n/2) dial; CONSTANT under the production
    // n/targetCellSize dial), and every vector lands in exactly one
    // list. Pair count and arithmetic are unchanged — all unordered
    // within-cell pairs, least/greatest-normalized ids, and
    // float_cosine's dot loop is commutative in its operands, so the
    // emitted (doc_a, doc_b) set is bit-identical to the join form's.
    val pairs = assigned
      .repartition(sessionShuffleWidth(corpus.sparkSession), col("cell"))
      .groupBy("cell")
      .agg(collect_list(struct(col("vec_id").as("id"),
        col("embedding").as("v"))).as("members"))
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
             transform(slice(members, i + 2, size(members)),
               y -> struct(least(x.id, y.id) AS a, greatest(x.id, y.id) AS b,
                 float_cosine(x.v, y.v) AS c))))""")).as("p"))
      .filter(col("p.c") >= tau)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    val (labels, _) = alternatingStarLabels(pairs)
    corpus.select("vec_id")
      .join(labels.withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep"), col("vec_id")).as("rep"))
      .withColumn("kept", col("rep") === col("vec_id"))
  }

  /** D10 — duplicated-substring spans (the ExactSubstr semantics of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better": remove any token run that appears verbatim more
    * than once in the corpus). The suffix-array formulation is
    * inherently sequential; the distributed re-expression is k-gram
    * cover: a token position lies in a duplicated run of ≥ k tokens
    * iff some k-token window through it repeats, so (1) stream ALL
    * k-windows with positions through the native `ngrams` Generator,
    * (2) keep windows whose gram occurs >1 time corpus-wide (same
    * doc or not — one hash agg on the gram), (3) merge each doc's
    * surviving window positions into maximal spans (overlap or
    * adjacency ⇒ same run) with one per-doc window sort over the
    * small hit set. Work is one shuffle on grams + one on the
    * (sparse) hits — never all-pairs; the dup-gram join is left to
    * AQE (broadcast when sparse, shuffled when a crawl is
    * pathologically self-similar). Emits (doc, span) rows:
    * span_start/span_end are 0-based token offsets, inclusive. */
  def d10SubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val wins = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"ngrams(text, $k)"))
    // One-pass dup-window extraction (round 14 — was a per-gram count
    // agg PLUS a corpus-scale join of the full window frame back onto
    // the >1-occurrence grams: two corpus scans, two exchanges, and
    // the join's sort). The d2b list-kernel shape one more time: one
    // exchange clusters windows by gram, the per-gram aggregate
    // carries its (doc, pos) hit list, df = 1 grams drop, survivors
    // explode. Hit set identical by construction — every window
    // whose gram occurs more than once, exactly the join's output.
    // Buffer bound: every window lands in exactly one list, so
    // aggregate state per partition is the partition's share of the
    // window frame (the pairStats argument).
    val hits = wins
      .repartition(sessionShuffleWidth(s), col("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("occ"),
        collect_list(struct(col("doc_id"), col("pos"))).as("ws"))
      .filter(col("occ") > 1)
      .select(explode(col("ws")).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val run = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    hits
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > k, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(run))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1)).as("span_end"))
      .withColumn("n_span_tokens",
        col("span_end") - col("span_start") + 1)
  }

  /** The d11 corpus/batch split: every 10th doc (residue 7) plays the
    * ARRIVING crawl batch; the rest is the standing corpus. Shared
    * literal-for-literal with the oracle. */
  private[graft] val D11DeltaResidue = 7

  /** D11 — incremental delta-vs-corpus dedup, the batch twin of the
    * streaming NearDupStream gate: admit an arriving batch's documents
    * only if they are neither EXACT copies (md5) nor NEAR-dups
    * (capped-shingle Jaccard ≥ 0.4) of the STANDING corpus. This is
    * the daily-crawl ingest shape — cost scales with the DELTA, never
    * O(corpus²): the corpus side is one shingle-keyed table (in
    * production, the standing index a store would persist — the n8
    * pattern), hot corpus shingles are stop-capped before the join,
    * and candidate pairs exist only where a batch doc shares a
    * surviving shingle. Intra-batch duplicates are d1/d2b applied to
    * the batch itself, deliberately out of scope here. Emits the
    * ADMITTED batch docs with their fingerprint (the rows an ingest
    * job would append to the corpus). */
  /** Per-doc (doc_id, s) distinct-shingle pairs for any (doc_id,
    * text) frame — the flatMap kernel shared by d11's inline and
    * index-served forms. */
  private[graft] def shinglePairs(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) => shingleSet(t).map((id, _)) }
      .toDF("doc_id", "s")
  }

  /** The d11 admission gate against a prebuilt corpus index:
    * `csCapped` = corpus (doc_id, s) with stop-shingles removed,
    * `nb` = per-corpus-doc distinct-shingle counts, `fps` = corpus
    * fingerprint set. Everything the gate needs — whether computed
    * inline (d11) or read back from a persisted index (d11b). */
  private[graft] def deltaGateOf(delta: DataFrame, csCapped: DataFrame,
      nb: DataFrame, fps: DataFrame): DataFrame = {
    // ds feeds BOTH the shared-shingle join and the per-doc size agg:
    // without a persist the plan re-reads the delta text and re-runs
    // the shingle flatMap once per consumer (guide §8's rule — the
    // heavy bytes should be scanned once, decisions made on the
    // derived rows). persist, not localCheckpoint: lineage survives
    // (a lost block recomputes) and output partitioning is kept, so
    // no re-exchange is introduced (the d2b UnknownPartitioning
    // lesson). Scrub/ContextCleaner reclaim the blocks after the
    // query's action.
    val ds = shinglePairs(delta).persist()
    val shared = ds
      .join(csCapped.withColumnRenamed("doc_id", "c_id"), "s")
      .groupBy("doc_id", "c_id").agg(count(lit(1)).as("shared"))
    val na = ds.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val near = shared.join(na, "doc_id")
      .join(nb.withColumnRenamed("doc_id", "c_id"), "c_id")
      .filter(col("shared") / (col("na") + col("nb") - col("shared"))
        >= 0.4)
      .select("doc_id").distinct()
    // two consumers (the exact-copy probe and the admitted output):
    // share one md5 pass over the delta text
    val deltaFp = delta
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .persist()
    val exact = deltaFp.join(fps, "fp").select("doc_id").distinct()
    deltaFp.join(near.union(exact).distinct(), Seq("doc_id"),
      "left_anti")
  }

  def d11DeltaDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isDelta = col("doc_id") % 10 === D11DeltaResidue
    // three consumers below (stop-cap join, corpus df agg, per-doc
    // sizes) — without the persist the corpus text is scanned and
    // re-shingled once per consumer (the r13 plan audit counted 8
    // text scans in this one query)
    val cs = shinglePairs(docs.filter(!isDelta)).persist()
    // stop-cap on CORPUS shingle document-frequency (the d2b guard:
    // a ubiquitous shingle never enters the candidate join)
    val csCapped = cs.join(
      cs.groupBy("s").agg(count(lit(1)).as("cdf"))
        .filter(col("cdf") <= StopShingleCap).select("s"), "s")
    val nb = cs.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val fps = docs.filter(!isDelta)
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
    deltaGateOf(docs.filter(isDelta), csCapped, nb, fps)
  }

  /** D11b — the gate SERVED from a persisted standing index (the n8
    * build-once/query-many split applied to ingest dedup): the corpus
    * side — stop-capped shingle postings, per-doc set sizes, and the
    * fingerprint set — is built once and committed as THREE
    * snapshot-store tables; arriving batches are admitted by reading
    * the index back, with NO corpus text rescan and no shingle
    * recomputation on the serving path. At 100 TB this is the only
    * viable shape: the index builds incrementally as batches are
    * admitted (append the admitted docs' postings — the s22 append
    * path), while the inline d11 form would re-shingle the corpus per
    * batch. Deterministic build + exact round-trip ⇒ byte-identical
    * to d11, so the SAME oracle SQL gates this path. */
  /** Build the standing d11 index for `corpus`: stop-capped shingle
    * postings, per-doc set sizes, fingerprint set — three snapshot-
    * store tables under `root`. */
  def buildDeltaIndex(corpus: DataFrame, root: String): Unit = {
    // the three commits below are EAGER actions; without the persist
    // each one re-scans the corpus text and re-runs the shingle
    // flatMap from scratch. Build is the one place the share can be
    // released deterministically, so unpersist once the commits land.
    val cs = shinglePairs(corpus).persist()
    try {
      val csCapped = cs.join(
        cs.groupBy("s").agg(count(lit(1)).as("cdf"))
          .filter(col("cdf") <= StopShingleCap).select("s"), "s")
      graft.sources.SnapshotStore.commit(csCapped, s"$root/postings")
      graft.sources.SnapshotStore.commit(
        cs.groupBy("doc_id").agg(count(lit(1)).as("nb")), s"$root/sizes")
      graft.sources.SnapshotStore.commit(
        corpus.select(md5(col("text").cast("binary")).as("fp"))
          .distinct(), s"$root/fps")
    } finally cs.unpersist(blocking = false)
  }

  /** Admit an arriving batch from the persisted index alone — no
    * corpus text rescan. */
  def deltaGateServed(delta: DataFrame, root: String): DataFrame = {
    val s = delta.sparkSession
    deltaGateOf(delta,
      graft.sources.SnapshotStore.read(s, s"$root/postings"),
      graft.sources.SnapshotStore.read(s, s"$root/sizes"),
      graft.sources.SnapshotStore.read(s, s"$root/fps"))
  }

  /** Day-2 ingest: grow the index by the ADMITTED docs — their
    * postings/sizes/fps append through the snapshot store's O(new
    * data) append path (old files carried by reference), so the next
    * batch gates against corpus ∪ admitted. Incremental-cap caveat,
    * stated honestly: appended postings are not re-screened against
    * the GLOBAL stop-shingle frequency (that would rescan the index);
    * a shingle that crosses the cap only via increments keeps
    * admitting candidate pairs until a periodic recap/compaction
    * rebuilds the postings — the same maintenance trade every
    * standing inverted index makes (cf. x20). DedupSimSpec pins the
    * two-batch evolve-and-regate sequence.
    *
    * API contract: `admitted` must carry RAW (doc_id, text) rows —
    * the admitted slice of the original batch, i.e.
    * `batch.join(gate_output.select("doc_id"), "doc_id")`. The gate's
    * own output is (doc_id, fp) and cannot rebuild postings; the
    * require below turns that mistake into a message instead of a
    * deep AnalysisException. */
  def appendDeltaIndex(admitted: DataFrame, root: String): Unit = {
    require(admitted.columns.contains("text"),
      "appendDeltaIndex needs raw (doc_id, text) rows - join the " +
        "gate's admitted doc_ids back to the original batch")
    // two eager appendCommits consume cs — share one shingle pass
    val cs = shinglePairs(admitted).persist()
    try {
      graft.sources.SnapshotStore.appendCommit(cs, s"$root/postings")
      graft.sources.SnapshotStore.appendCommit(
        cs.groupBy("doc_id").agg(count(lit(1)).as("nb")), s"$root/sizes")
      graft.sources.SnapshotStore.appendCommit(
        admitted.select(md5(col("text").cast("binary")).as("fp"))
          .distinct(), s"$root/fps")
    } finally cs.unpersist(blocking = false)
  }

  def d11bDeltaDedupServed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(s, dir)
    val isDelta = col("doc_id") % 10 === D11DeltaResidue
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val root = new Path(sys.props("java.io.tmpdir"),
      s"graft_d11b${tag}_${s.sparkContext.applicationId}").toString
    graft.sources.Scratch.fresh(s, new Path(root))
    buildDeltaIndex(docs.filter(!isDelta), root)
    deltaGateServed(docs.filter(isDelta), root)
  }

  // -- d13: sorted-neighborhood dedup ------------------------------

  /** Neighborhood width: each doc is compared to the next `SnmWindow`
    * docs in canonical sort order (the classic SNM w). */
  private val SnmWindow = 3

  private def snmPass(docs: DataFrame, blk: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk").orderBy("skey", "doc_id")
    docs.withColumn("blk", blk)
      .withColumn("nbrs", array((1 to SnmWindow).map(k =>
        lead(struct(col("doc_id"), col("toks")), k).over(w)): _*))
      .select(col("doc_id"), col("toks").as("ta"),
        explode(col("nbrs")).as("nb"))
      .filter(col("nb").isNotNull)
      .select(
        least(col("doc_id"), col("nb.doc_id")).as("doc_a"),
        greatest(col("doc_id"), col("nb.doc_id")).as("doc_b"),
        (size(array_intersect(col("ta"), col("nb.toks"))).cast("double")
          / size(array_union(col("ta"), col("nb.toks")))).as("jac"))
  }

  /** D13 — sorted-neighborhood (SNM) near-dup pairs: the third
    * blocking family beside shingle-bucketing (d2b) and LSH banding
    * (d3/d7). Canonicalize each doc to its sorted distinct-token key,
    * sort, and compare only docs within a fixed window `w` of each
    * other — near-identical token sets share long key prefixes and
    * land adjacent, so O(n·w) comparisons replace O(n²).
    *
    * Two passes with different block keys (first and last sorted
    * token) union-ed — the standard multi-pass SNM answer to "a pair
    * split across a block boundary is missed"; pairs found by both
    * passes collapse via distinct (identical jaccard either way).
    *
    * Scale shape: each pass is one keyed exchange (partition by
    * block) + an in-partition sort + a w-wide self-compare — linear
    * in docs for fixed w, never all-pairs. The window-function form
    * keeps one task per block; at corpus scale the same pass is
    * `repartitionByRange(skey)` + `sortWithinPartitions` +
    * boundary-overlapped `mapPartitions`, trading the oracle-
    * replayable plan for arbitrary block cardinality. */
  def d13SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        array_sort(array_distinct(tokens)).as("toks"))
      .withColumn("skey", array_join(col("toks"), " "))
    snmPass(docs, element_at(col("toks"), 1))
      .unionByName(snmPass(docs, element_at(col("toks"), -1)))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b"), Det.r6(col("jac")).as("jac"))
      .distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d13_dedup_sorted_neighborhood" -> d13SortedNeighborhood,
    "d11_delta_dedup" -> d11DeltaDedup,
    "d11b_delta_dedup_served" -> d11bDeltaDedupServed,
    "d10_substring_spans" -> d10SubstringSpans,
    "d8_dedup_paragraphs" -> d8DedupParagraphs,
    "d9_semdedup" -> d9SemanticDedup,
    "d1_dedup_exact" -> d1DedupExact,
    "d7_dedup_embedding_lsh" -> d7DedupEmbeddingLsh,
    "d2_dedup_ngram_jaccard" -> d2DedupNgramJaccard,
    "d12_containment" -> d12Containment,
    "d2b_dedup_ngram_capped" -> d2bDedupNgramCapped,
    "d6_dedup_clusters" -> d6DedupClusters,
    "d3_dedup_minhash_lsh" -> d3DedupMinhashLsh,
    "d3b_minhash_planted_gate" -> d3bMinhashPlantedGate,
    "d4_dedup_simhash" -> d4DedupSimhash,
    "d4b_simhash_planted_gate" -> d4bSimhashPlantedGate,
    "d5_dedup_embedding" -> d5DedupEmbedding)

  /** Shared d2 shingle/pair CTEs, parameterized by the stop-shingle
    * cap (None = exact/uncapped). Reused by the d2, d2b and d6 oracles
    * so every gate derives from the identical pair graph. The cap is
    * the SQL twin of the kernel's overflow guard: a shingle shared by
    * more than `cap` docs never enters the pair expansion, while the
    * per-doc set sizes in `n` stay uncapped (jaccard only decreases). */
  private def d2PairCtes(cap: Option[Int],
      src: String = "documents"): String = {
    val capFilter = cap.fold("")(c =>
      s"""WHERE a.s IN (SELECT s FROM sh_e
                        GROUP BY s HAVING count(*) <= $c)
         """)
    s"""w AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS sh
           FROM $src),
         sh_e AS (SELECT doc_id, unnest(sh) AS s FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS shared
               FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
               $capFilter
               GROUP BY 1, 2),
         n AS (SELECT doc_id, len(sh) AS n FROM w)"""
  }

  /** The d6 cluster-label CTE chain (capped pair graph → symmetric
    * edge list → transitive closure → per-doc min-reachable rep),
    * ending in `labels(doc_id, rep)` over EVERY document (isolated
    * docs label themselves via the closure's base case). Must be
    * prefixed with `WITH RECURSIVE`. Shared by the d6 oracle and any
    * oracle that consumes cluster identity (x39 leakage-safe split)
    * so "cluster" means the identical pair graph everywhere. */
  private[graft] def d6LabelCtes: String =
    s"""${d2PairCtes(Some(StopShingleCap))},
       dup AS (SELECT doc_a, doc_b
               FROM p JOIN n na ON na.doc_id = doc_a
                      JOIN n nb ON nb.doc_id = doc_b
               WHERE shared / (na.n + nb.n - shared) >= 0.4),
       ed AS (SELECT doc_a AS src, doc_b AS dst FROM dup
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM dup),
       reach AS (SELECT doc_id AS a, doc_id AS b FROM documents
                 UNION
                 SELECT r.a, ed.dst AS b
                 FROM reach r JOIN ed ON r.b = ed.src),
       labels AS (SELECT a AS doc_id, min(b) AS rep
                  FROM reach GROUP BY 1)"""

  /** d11's oracle — shared verbatim by d11b: the persisted-index path
    * is deterministic-build + exact-round-trip, so its answer is
    * byte-identical to the inline gate's. */
  private def d11OracleSql: String =
    s"""WITH corp AS (SELECT doc_id, text FROM documents
                        WHERE doc_id % 10 <> $D11DeltaResidue),
         del AS (SELECT doc_id, text FROM documents
                 WHERE doc_id % 10 = $D11DeltaResidue),
         wc AS (SELECT doc_id, list_distinct(list_transform(
                  range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i+1] || ' ' ||
                       string_split(text, ' ')[i+2])) AS sh
                FROM corp),
         wd AS (SELECT doc_id, list_distinct(list_transform(
                  range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i+1] || ' ' ||
                       string_split(text, ' ')[i+2])) AS sh
                FROM del),
         ce AS (SELECT doc_id, unnest(sh) AS s FROM wc),
         de AS (SELECT doc_id, unnest(sh) AS s FROM wd),
         cek AS (SELECT * FROM ce WHERE s IN
                   (SELECT s FROM ce GROUP BY s
                    HAVING count(*) <= $StopShingleCap)),
         p AS (SELECT d.doc_id AS doc_id, c.doc_id AS c_id,
                 count(*) AS shared
               FROM de d JOIN cek c ON d.s = c.s GROUP BY 1, 2),
         na AS (SELECT doc_id, len(sh) AS n FROM wd),
         nb AS (SELECT doc_id, len(sh) AS n FROM wc),
         near AS (SELECT DISTINCT p.doc_id
                  FROM p JOIN na ON na.doc_id = p.doc_id
                         JOIN nb ON nb.doc_id = p.c_id
                  WHERE shared / (na.n + nb.n - shared) >= 0.4),
         exact AS (SELECT DISTINCT d.doc_id
                   FROM del d JOIN corp c ON md5(d.text) = md5(c.text))
         SELECT doc_id, md5(text) AS fp FROM del
         WHERE doc_id NOT IN (SELECT doc_id FROM near)
           AND doc_id NOT IN (SELECT doc_id FROM exact)"""

  /** One SNM oracle pass: neighbor slots 1..w via lead() under the
    * given block key, flattened to candidate rows. */
  private def snmPassCtes(blkExpr: String): String = {
    val leads = (1 to SnmWindow).map(k =>
      s"lead(doc_id, $k) OVER w AS b$k, lead(toks, $k) OVER w AS t$k")
      .mkString(",\n             ")
    s"""SELECT doc_id, toks, $leads
           FROM toks
           WINDOW w AS (PARTITION BY $blkExpr ORDER BY skey, doc_id)"""
  }

  private def snmCandSelects(src: String): String =
    (1 to SnmWindow).map(k =>
      s"""SELECT doc_id AS a, b$k AS b, toks AS ta, t$k AS tb
          FROM $src WHERE b$k IS NOT NULL""").mkString("\n  UNION ALL\n  ")

  /** DuckDB mirrors. d3/d4 are hash-scheme-specific → rows-only;
    * their planted gates (d3b/d4b) have closed forms. */
  val oracle: Map[String, String] = Map(
    // the planted pairs are the ONLY similarity structure in the
    // planted id space (disjoint vocabulary; see plantedGateDocs), so
    // the gate output is a pure arithmetic projection of `documents`
    "d3b_minhash_planted_gate" ->
      s"""SELECT cast($GateOffsetA + doc_id AS bigint) AS doc_a,
            cast($GateOffsetB + doc_id AS bigint) AS doc_b,
            cast(1.0 AS double) AS jaccard
          FROM documents WHERE doc_id % ${D7PlantStride} = 0""",
    "d4b_simhash_planted_gate" ->
      s"""SELECT cast($GateOffsetA + doc_id AS bigint) AS doc_a,
            cast($GateOffsetB + doc_id AS bigint) AS doc_b,
            cast(0 AS integer) AS hamming
          FROM documents WHERE doc_id % ${D7PlantStride} = 0""",
    "d13_dedup_sorted_neighborhood" ->
      s"""WITH toks AS (
           SELECT doc_id,
             list_sort(list_distinct(string_split(text, ' '))) AS toks,
             array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ') AS skey
           FROM documents),
         p1 AS (${snmPassCtes("toks[1]")}),
         p2 AS (${snmPassCtes("toks[-1]")}),
         cand AS (
           ${snmCandSelects("p1")}
           UNION ALL
           ${snmCandSelects("p2")}),
         pairs AS (
           SELECT least(a, b) AS doc_a, greatest(a, b) AS doc_b,
             cast(len(list_intersect(ta, tb)) AS double)
               / len(list_distinct(list_concat(ta, tb))) AS jac
           FROM cand)
         SELECT DISTINCT doc_a, doc_b, ${Det.sql("jac", 6)} AS jac
         FROM pairs WHERE jac >= 0.6""",
    "d11_delta_dedup" -> d11OracleSql,
    "d11b_delta_dedup_served" -> d11OracleSql,
    "d10_substring_spans" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s
                     FROM documents),
         g AS (SELECT doc_id,
                 unnest(range(1, greatest(len(s) - 6, 1))) - 1 AS pos,
                 unnest(list_transform(
                   range(1, greatest(len(s) - 6, 1)),
                   i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' '
                     || s[i+3] || ' ' || s[i+4] || ' ' || s[i+5]
                     || ' ' || s[i+6] || ' ' || s[i+7])) AS gram
               FROM sp),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING count(*) > 1),
         hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
         seq AS (SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                       PARTITION BY doc_id ORDER BY pos) > 8
                     THEN 1 ELSE 0 END AS brk
                 FROM hits),
         spn AS (SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS span_id
                 FROM seq)
         SELECT doc_id, cast(span_id AS bigint) AS span_id,
           min(pos) AS span_start, max(pos) + 7 AS span_end,
           max(pos) + 7 - min(pos) + 1 AS n_span_tokens
         FROM spn GROUP BY doc_id, span_id""",
    "d9_semdedup" ->
      s"""WITH corpus AS (
           SELECT vec_id FROM embeddings
           UNION ALL
           SELECT vec_id + $D9PlantOffset AS vec_id FROM embeddings
           WHERE vec_id % $D9PlantStride = 0)
         SELECT vec_id,
           CASE WHEN vec_id >= $D9PlantOffset
                THEN vec_id - $D9PlantOffset ELSE vec_id END AS rep,
           vec_id < $D9PlantOffset AS kept
         FROM corpus""",
    "d8_dedup_paragraphs" ->
      s"""WITH RECURSIVE
         planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
               THEN array_to_string(list_transform(range(0, 25),
                      i -> 'dupb' || cast((doc_id // 10) % 25 AS varchar)
                           || 't' || cast(i AS varchar)), ' ')
                    || ' ' || text
               ELSE text END AS text
           FROM documents),
         paras AS (
           SELECT doc_id, doc_id * $ParaSlot + i AS pid,
             array_to_string(list_slice(string_split(text, ' '),
               i * $ParaTokens + 1, i * $ParaTokens + $ParaTokens), ' ')
               AS ptext
           FROM (SELECT doc_id, text, string_split(text, ' ') AS sp
                 FROM planted),
             unnest(range(0, cast(ceil(len(sp) / $ParaTokens.0)
               AS bigint))) AS g(i)),
         w AS (
           SELECT pid, list_distinct(list_transform(
             range(1, greatest(len(string_split(ptext, ' ')) - 1, 1)),
             i -> string_split(ptext, ' ')[i] || ' ' ||
                  string_split(ptext, ' ')[i+1] || ' ' ||
                  string_split(ptext, ' ')[i+2])) AS sh
           FROM paras),
         sh_e AS (SELECT pid, unnest(sh) AS s FROM w),
         p AS (SELECT a.pid AS pa, b.pid AS pb, count(*) AS shared
               FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.pid < b.pid
               WHERE a.s IN (SELECT s FROM sh_e
                             GROUP BY s
                             HAVING count(*) <= $StopShingleCap)
               GROUP BY 1, 2),
         nn AS (SELECT pid, len(sh) AS n FROM w),
         dup AS (SELECT pa, pb FROM p
                 JOIN nn na ON na.pid = pa JOIN nn nb ON nb.pid = pb
                 WHERE shared / (na.n + nb.n - shared) >= 0.4),
         ed AS (SELECT pa AS src, pb AS dst FROM dup
                UNION ALL SELECT pb, pa FROM dup),
         reach AS (SELECT pid AS a, pid AS b FROM paras
                   UNION
                   SELECT r.a, ed.dst
                   FROM reach r JOIN ed ON r.b = ed.src),
         rep AS (SELECT a AS pid, min(b) AS rep FROM reach GROUP BY 1)
         SELECT p.doc_id,
           cast(count(*) AS bigint) AS n_paras,
           cast(sum(CASE WHEN r.rep = p.pid THEN 1 ELSE 0 END)
             AS bigint) AS n_kept,
           cast(sum(CASE WHEN r.rep = p.pid
             THEN len(string_split(p.ptext, ' ')) ELSE 0 END)
             AS bigint) AS n_kept_tokens
         FROM paras p JOIN rep r ON r.pid = p.pid
         GROUP BY 1""",
    "d1_dedup_exact" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
           string_split(text, ' '))), ' ')) AS fp,
         min(doc_id) AS keep_id, count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_exact_variants
         FROM documents GROUP BY 1""",
    "d2_dedup_ngram_jaccard" ->
      s"""WITH ${d2PairCtes(None)}
         SELECT doc_a, doc_b,
           ${Det.sql("shared / (na.n + nb.n - shared)", 4)} AS jaccard
         FROM p JOIN n na ON na.doc_id = doc_a
                JOIN n nb ON nb.doc_id = doc_b
         WHERE shared / (na.n + nb.n - shared) >= 0.4""",
    "d2b_dedup_ngram_capped" ->
      s"""WITH ${d2PairCtes(Some(StopShingleCap))}
         SELECT doc_a, doc_b,
           ${Det.sql("shared / (na.n + nb.n - shared)", 4)} AS jaccard
         FROM p JOIN n na ON na.doc_id = doc_a
                JOIN n nb ON nb.doc_id = doc_b
         WHERE shared / (na.n + nb.n - shared) >= 0.4""",
    "d12_containment" ->
      s"""WITH ${d2PairCtes(Some(StopShingleCap),
        src = s"""(SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + $D12PlantOffset,
               array_to_string(
                 list_slice(string_split(text, ' '), 1, 30), ' ')
             FROM documents
             WHERE doc_id % $D12PlantStride = 3) docs2""")}
         SELECT doc_a, doc_b,
           CASE WHEN na.n <= nb.n THEN doc_a ELSE doc_b END
             AS contained_doc,
           ${Det.sql("shared / least(na.n, nb.n)", 4)} AS containment
         FROM p JOIN n na ON na.doc_id = doc_a
                JOIN n nb ON nb.doc_id = doc_b
         WHERE shared / least(na.n, nb.n) >= 0.8
           AND shared / (na.n + nb.n - shared) < 0.4""",
    "d6_dedup_clusters" ->
      s"""WITH RECURSIVE $d6LabelCtes
         SELECT doc_id, rep FROM labels""",
    "d7_dedup_embedding_lsh" ->
      s"""WITH c AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + $D7PlantOffset, embedding FROM embeddings
           WHERE vec_id % $D7PlantStride = 0),
         e AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> x::double * x::double))) AS norm
           FROM c)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ${Det.sql(
        """list_sum(list_transform(list_zip(a.embedding, b.embedding),
               p -> p[1]::double * p[2]::double)) / (a.norm * b.norm)""",
        6)} AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> p[1]::double * p[2]::double))
               / (a.norm * b.norm) >= 0.9""",
    "d5_dedup_embedding" ->
      s"""WITH e AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> x::double * x::double))) AS norm
           FROM embeddings)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ${Det.sql(
        """list_sum(list_transform(list_zip(a.embedding, b.embedding),
               p -> p[1]::double * p[2]::double)) / (a.norm * b.norm)""",
        6)} AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> p[1]::double * p[2]::double))
               / (a.norm * b.norm) >= 0.45""")
}
