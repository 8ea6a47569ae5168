package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** N11 — MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell &
  * Goldstein 1998): diversify a top-M retrieval list by iteratively
  * selecting argmax_d [ λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) ] — the
  * standard post-retrieval step in RAG/search stacks so the k
  * returned passages don't all say the same thing (near-duplicate
  * hits crowd out coverage; x47 fuses ARMS, this diversifies WITHIN
  * a list).
  *
  * Shapes, at 100 TB:
  *  - Candidate generation is the existing retrieval machinery (here
  *    n1's exact top-M per query; n6/n8's ANN serve at scale — MMR
  *    is oblivious to how the list was produced).
  *  - The MMR loop is sequential BY DEFINITION (selection i depends
  *    on 1..i−1) but over a BOUNDED set: M = [[CandM]] candidates and
  *    M² pairwise similarities per query — so it runs as a typed
  *    mapGroups kernel with O(M²) per-group state, embarrassingly
  *    parallel across queries. Nothing corpus-scale enters the loop.
  *
  * Cross-engine determinism (what makes this ORACLE-gated where most
  * rerankers are rows-only): relevance and pairwise similarity are
  * quantized to 1e−6 integer micros FIRST, and λ = 7/10 turns the
  * marginal score into pure int64 arithmetic — score = 7·rel_q −
  * 3·maxSim_q — with ties broken on doc id. The DuckDB oracle
  * replays the selection as k unrolled steps (argmax per step over
  * the not-yet-selected set, max-sim against the union of earlier
  * steps), value-for-value. */
object MmrRerank {

  /** Candidate-list depth entering MMR. */
  private[sim] val CandM = 10
  /** Selections per query. */
  private[sim] val MmrK = 5
  /** λ = Num/Den (0.7 — the conventional relevance-leaning dial). */
  private val LambdaNum = 7L
  private val LambdaDen = 10L

  /** The integer MMR selection over one query's candidate list —
    * exposed for the hand-computed fixture in DedupSimSpec.
    * `rels`: (doc_id, rel_q); `sims`: ((a, b) -> sim_q), symmetric
    * pairs present for a ≠ b. Returns (doc_id, rank, score_q) in
    * selection order; score_q = 7·rel_q − 3·maxSimToSelected_q. */
  private[graft] def selectMmr(rels: Seq[(Long, Long)],
      sims: Map[(Long, Long), Long], k: Int): Seq[(Long, Int, Long)] = {
    val remaining = scala.collection.mutable.SortedMap.empty[Long, Long]
    rels.foreach { case (d, r) => remaining(d) = r }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      var bestId = -1L
      var bestScore = Long.MinValue
      // iterate in doc-id order so strict > implements the id
      // tie-break (first minimal id wins on equal scores)
      remaining.foreach { case (d, r) =>
        val ms =
          if (selected.isEmpty) 0L
          else selected.iterator.map(s => sims.getOrElse((d, s), 0L)).max
        val score = LambdaNum * r - (LambdaDen - LambdaNum) * ms
        if (score > bestScore) { bestScore = score; bestId = d }
      }
      out += ((bestId, rank, bestScore))
      selected += bestId
      remaining.remove(bestId)
      rank += 1
    }
    out.toSeq
  }

  def n11MmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // top-M candidates per query, ranked on the QUANTIZED relevance
    // (micros) so candidate membership is engine-independent
    val scored = queries.as("q").join(emb.as("v"),
        col("q.q_id") =!= col("v.vec_id"))
      .select(col("q.q_id"), col("v.vec_id").as("doc_id"),
        floor(GraftFunctions.floatCosine("q_emb", "embedding")
          * lit(1e6) + lit(0.5)).cast("long").as("rel_q"))
    val cands = graft.plans.TopK.topKPerKey(scored, Seq(col("q_id")),
      Seq(col("rel_q").desc, col("doc_id").asc), CandM)
    // M×M pairwise candidate similarities per query (bounded:
    // CandM² rows/query), quantized the same way; the a = b diagonal
    // rides along so every candidate reaches the kernel even if a
    // pathological list had one entry
    // the M×M pair builder self-joins this frame; unpersisted, BOTH
    // sides re-run the whole candidate pipeline — the O(n·queries)
    // brute-force scoring, the TopK, and the embedding re-attach
    // (the r13 plan audit counted 6 embeddings scans in this one
    // query). The frame is bounded at CandM rows per query, so the
    // persist is ~free and the corpus-scale scoring runs once.
    val withEmb = cands
      .join(emb.select(col("vec_id").as("doc_id"),
        col("embedding").as("c_emb")), "doc_id")
      .persist()
    val pairs = withEmb.as("a").join(withEmb.as("b"),
        col("a.q_id") === col("b.q_id"))
      .select(col("a.q_id").as("q_id"),
        col("a.doc_id").as("a_id"), col("a.rel_q").as("rel_a"),
        col("b.doc_id").as("b_id"),
        when(col("a.doc_id") === col("b.doc_id"), lit(0L))
          .otherwise(floor(GraftFunctions.floatCosine("a.c_emb", "b.c_emb")
            * lit(1e6) + lit(0.5)).cast("long")).as("sim_q"))
    pairs.as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qId, it) =>
        val rels = scala.collection.mutable.SortedMap.empty[Long, Long]
        val sims = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        it.foreach { case (_, a, relA, b, simQ) =>
          rels(a) = relA
          if (a != b) sims((a, b)) = simQ
        }
        selectMmr(rels.toSeq, sims.toMap, MmrK).iterator
          .map { case (d, rank, score) => (qId, d, rank, score) }
      }
      .toDF("q_id", "doc_id", "mmr_rank", "mmr_score_q")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n11_mmr_rerank" -> n11MmrRerank)

  /** The unrolled-selection oracle: cands/pairs replayed with n1's
    * list arithmetic, then one CTE pair per MMR step — ms$i = each
    * unselected candidate's max similarity to the selected union,
    * s$i = the per-query integer argmax with the doc-id tie-break. */
  val oracle: Map[String, String] = Map(
    "n11_mmr_rerank" -> {
      val steps = (2 to MmrK).map { i =>
        val prev = (1 to i - 1).map(j => s"SELECT * FROM s$j")
          .mkString(" UNION ALL ")
        s"""prev$i AS ($prev),
           ms$i AS (
             SELECT p.q_id, p.a_id AS doc_id, max(p.sim_q) AS ms
             FROM pairs p
             JOIN prev$i s ON p.q_id = s.q_id AND p.b_id = s.doc_id
             GROUP BY 1, 2),
           s$i AS (
             SELECT q_id, doc_id, cast($i AS int) AS mmr_rank,
               score AS mmr_score_q
             FROM (
               SELECT c.q_id, c.doc_id,
                 $LambdaNum * c.rel_q
                   - ${LambdaDen - LambdaNum} * coalesce(m.ms, 0) AS score,
                 row_number() OVER (PARTITION BY c.q_id
                   ORDER BY $LambdaNum * c.rel_q
                     - ${LambdaDen - LambdaNum} * coalesce(m.ms, 0) DESC,
                     c.doc_id) AS rn
               FROM cands c
               LEFT JOIN ms$i m
                 ON m.q_id = c.q_id AND m.doc_id = c.doc_id
               WHERE NOT EXISTS (SELECT 1 FROM prev$i s
                 WHERE s.q_id = c.q_id AND s.doc_id = c.doc_id))
             WHERE rn = 1)"""
      }.mkString(",\n")
      val out = (1 to MmrK).map(i =>
        s"SELECT q_id, doc_id, mmr_rank, mmr_score_q FROM s$i")
        .mkString("\nUNION ALL\n")
      s"""WITH e AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> x::double * x::double))) AS norm
           FROM embeddings),
         rel AS (
           SELECT q.vec_id AS q_id, v.vec_id AS doc_id,
             cast(floor(
               list_sum(list_transform(list_zip(q.embedding, v.embedding),
                 p -> p[1]::double * p[2]::double)) / (q.norm * v.norm)
               * 1000000.0 + 0.5) AS bigint) AS rel_q
           FROM e q JOIN e v
             ON q.vec_id % 50 = 0 AND q.vec_id <> v.vec_id),
         cands AS (
           SELECT q_id, doc_id, rel_q FROM (
             SELECT q_id, doc_id, rel_q,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY rel_q DESC, doc_id) AS rn
             FROM rel)
           WHERE rn <= $CandM),
         pairs AS (
           SELECT a.q_id, a.doc_id AS a_id, b.doc_id AS b_id,
             cast(floor(
               list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                 p -> p[1]::double * p[2]::double)) / (ea.norm * eb.norm)
               * 1000000.0 + 0.5) AS bigint) AS sim_q
           FROM cands a
           JOIN cands b ON a.q_id = b.q_id AND a.doc_id <> b.doc_id
           JOIN e ea ON ea.vec_id = a.doc_id
           JOIN e eb ON eb.vec_id = b.doc_id),
         s1 AS (
           SELECT q_id, doc_id, cast(1 AS int) AS mmr_rank,
             $LambdaNum * rel_q AS mmr_score_q
           FROM (
             SELECT q_id, doc_id, rel_q,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY $LambdaNum * rel_q DESC, doc_id) AS rn
             FROM cands)
           WHERE rn = 1),
         $steps
         $out"""
    })
}
