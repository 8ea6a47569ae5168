package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions
import graft.ops.Det

/** X47 — HYBRID RETRIEVAL: fuse a lexical BM25 arm and a semantic
  * embedding arm with Reciprocal Rank Fusion (Cormack, Clarke &
  * Buettcher 2009 — `rrf = Σ_arms 1/(60 + rank)`), the production
  * retrieval pattern behind every RAG/search stack (sparse+dense,
  * e.g. Elasticsearch/Vespa/Weaviate hybrid modes): lexical recovers
  * exact-term matches dense embeddings blur, dense recovers
  * paraphrases lexical misses, and rank-level fusion needs NO score
  * calibration between incommensurable scales.
  *
  * Query workload: every 50th EMBEDDED doc (the n1/n6 query set —
  * the corpus is partially embedded, documents ⊇ embeddings, which
  * is the common production reality; the lexical arm searches the
  * whole corpus, the dense arm what is embedded).
  *
  * Shapes, at 100 TB:
  *  - Lexical arm = the inverted-index join: one (doc, token) tf
  *    aggregate, one token-keyed df aggregate, then query terms ⋈ tf
  *    on token — every shuffle is token- or doc-keyed, nothing is
  *    all-pairs. The tf/dl/df structures are BUILT ONCE per
  *    (session, corpus) and served from persisted snapshot-store
  *    tables ([[graft.text.LexIndex]], shared with x20/x21) — the
  *    retrieval-system shape, where queries never re-tokenize the
  *    corpus. Hot-token fanout (a stopword joins every doc) is
  *    bounded by QUERY-TERM PRUNING: each query keeps only its
  *    [[QueryTerms]] rarest terms (df asc — highest idf, the terms
  *    that carry BM25 mass anyway), so the join fans out to at most
  *    queries × QueryTerms × df(rare term) rows. That is the classic
  *    IR impact-ordering trick, and it is what makes full-document
  *    queries feasible (an unpruned stopword term alone would join
  *    the entire corpus per query).
  *  - Dense arm = n1's exact kernel here (queries × embedded corpus
  *    through the codegen'd float_cosine); at scale the same fusion
  *    consumes n6's IVF-PQ serve instead — the arms are rank lists,
  *    so the fusion is oblivious to how each was produced.
  *  - Fusion = one full-outer join of two ≤ArmK-deep rank lists per
  *    query + a TopKPerKey heap — metadata-scale.
  *
  * Cross-engine determinism: per-term BM25 contributions are
  * quantized to 1e−6 integers and summed as longs (order-independent
  * — the x12 discipline), arm ranks break ties on doc id over the
  * QUANTIZED scores, and rrf = 1/(60+r) is an exact IEEE division of
  * small integers summed in fixed written order, so the DuckDB
  * oracle replays the whole operator value-for-value. */
object HybridRetrieval {

  /** Rarest-terms-per-query cap for the lexical arm (see scaladoc). */
  private val QueryTerms = 8
  /** Depth of each arm's rank list entering the fusion. */
  private val ArmK = 20
  /** RRF smoothing constant (the k=60 of Cormack et al. 2009). */
  private val RrfK = 60
  /** Final fused results per query. */
  private val TopK = 10

  private val tokens = split(col("text"), " ")

  def x47HybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val queryIds = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"))

    // ---- lexical arm: BM25 SERVED from the persisted corpus index
    // (graft.text.LexIndex — shared with x20/x21; exact integer
    // counts, so the double casts below are value-identical to the
    // former inline build and the output hash is unchanged) --------
    val tf = graft.text.LexIndex.tf(s, dir)
      .select(col("doc_id"), col("token"),
        col("tf").cast("double").as("tf"))
    val dl = graft.text.LexIndex.dl(s, dir)
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val df_ = graft.text.LexIndex.df(s, dir)
      .select(col("token"), col("df").cast("double").as("df"))
    // per-query rarest terms: distinct tokens of the query doc,
    // keep QueryTerms by (df asc, token asc) — exact-integer order
    val qTerms0 = queryIds
      .join(docs.select(col("doc_id").as("q_id"), col("text")), "q_id")
      .select(col("q_id"), explode(array_distinct(tokens)).as("token"))
      .join(df_, "token")
    val qTerms = graft.plans.TopK.topKPerKey(qTerms0,
      Seq(col("q_id")), Seq(col("df").asc, col("token").asc), QueryTerms)
    // inverted-index join + BM25 (identical constants to x11; each
    // term's contribution quantized to 1e−6 micro-units so the
    // per-pair sum is order-independent integer arithmetic)
    val idf = log((col("n_docs") - col("df") + lit(0.5))
      / (col("df") + lit(0.5)) + lit(1.0))
    val tfPart = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75)
        * col("dl") / col("avgdl")))
    val lexPairs = qTerms
      .join(tf, "token")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        floor(idf * tfPart * lit(1e6) + lit(0.5)).cast("long")
          .as("part_micro"))
      .groupBy("q_id", "doc_id")
      .agg(sum("part_micro").as("bm25_micro"))
    val lexTop = graft.plans.TopK.topKPerKey(lexPairs,
      Seq(col("q_id")),
      Seq(col("bm25_micro").desc, col("doc_id").asc), ArmK)
    val wLex = Window.partitionBy("q_id")
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    val lexRanked = lexTop
      .withColumn("lex_rank", row_number().over(wLex))
      .select(col("q_id"), col("doc_id"), col("lex_rank"))

    // ---- dense arm: exact cosine over the embedded corpus ---------
    // (rank on the 1e−6-quantized cosine — engine-independent order)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val semScored = queries.as("q").join(emb.as("v"),
        col("q.q_id") =!= col("v.vec_id"))
      .select(col("q.q_id"), col("v.vec_id").as("doc_id"),
        Det.r6(GraftFunctions.floatCosine("q_emb", "embedding"))
          .as("cos_r"))
    val semTop = graft.plans.TopK.topKPerKey(semScored,
      Seq(col("q_id")), Seq(col("cos_r").desc, col("doc_id").asc), ArmK)
    val wSem = Window.partitionBy("q_id")
      .orderBy(col("cos_r").desc, col("doc_id"))
    val semRanked = semTop
      .withColumn("sem_rank", row_number().over(wSem))
      .select(col("q_id"), col("doc_id"), col("sem_rank"))

    // ---- fusion ----------------------------------------------------
    val fused = lexRanked.join(semRanked, Seq("q_id", "doc_id"),
        "full_outer")
      .select(col("q_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).as("sem_rank"))
      .withColumn("rrf",
        when(col("lex_rank") > 0,
          lit(1.0) / (lit(RrfK) + col("lex_rank"))).otherwise(lit(0.0))
          + when(col("sem_rank") > 0,
            lit(1.0) / (lit(RrfK) + col("sem_rank"))).otherwise(lit(0.0)))
    val top = graft.plans.TopK.topKPerKey(fused,
      Seq(col("q_id")), Seq(col("rrf").desc, col("doc_id").asc), TopK)
    val wF = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    top.withColumn("fused_rank", row_number().over(wF))
      .select(col("q_id"), col("doc_id"), col("fused_rank"),
        col("lex_rank"), col("sem_rank"), Det.r6(col("rrf")).as("rrf"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x47_hybrid_retrieval" -> x47HybridRetrieval)

  /** The DuckDB replay: same pruning, same quantization, same
    * tie-breaks. The dense arm reuses n1's list-arithmetic cosine. */
  val oracle: Map[String, String] = Map(
    "x47_hybrid_retrieval" -> {
      val idf = "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
      val tfPart = "(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      s"""WITH qids AS (
           SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 50 = 0),
         tf AS (
           SELECT doc_id, token, cast(count(*) AS double) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         stats AS (
           SELECT cast(count(*) AS double) AS n_docs, avg(dl) AS avgdl
           FROM dl),
         dfr AS (
           SELECT token, cast(count(*) AS double) AS df
           FROM tf GROUP BY 1),
         qterms AS (
           SELECT q_id, token, df FROM (
             SELECT q.q_id, t.token, dfr.df,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY dfr.df, t.token) AS rn
             FROM qids q
             JOIN (SELECT doc_id, unnest(list_distinct(
                     string_split(text, ' '))) AS token FROM documents) t
               ON t.doc_id = q.q_id
             JOIN dfr ON dfr.token = t.token)
           WHERE rn <= 8),
         lexpairs AS (
           SELECT qt.q_id, tf.doc_id,
             cast(sum(cast(floor($idf * $tfPart * 1000000.0 + 0.5)
               AS bigint)) AS bigint) AS bm25_micro
           FROM qterms qt
           JOIN tf ON tf.token = qt.token AND tf.doc_id <> qt.q_id
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN stats
           GROUP BY 1, 2),
         lexranked AS (
           SELECT q_id, doc_id,
             cast(row_number() OVER (PARTITION BY q_id
               ORDER BY bm25_micro DESC, doc_id) AS int) AS lex_rank
           FROM lexpairs
           QUALIFY lex_rank <= 20),
         e AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> x::double * x::double))) AS norm
           FROM embeddings),
         semscored AS (
           SELECT q.vec_id AS q_id, v.vec_id AS doc_id,
             ${Det.sql(
        """list_sum(list_transform(list_zip(q.embedding, v.embedding),
               p -> p[1]::double * p[2]::double)) / (q.norm * v.norm)""",
        6)} AS cos_r
           FROM e q JOIN e v ON q.vec_id % 50 = 0
             AND q.vec_id <> v.vec_id),
         semranked AS (
           SELECT q_id, doc_id,
             cast(row_number() OVER (PARTITION BY q_id
               ORDER BY cos_r DESC, doc_id) AS int) AS sem_rank
           FROM semscored
           QUALIFY sem_rank <= 20),
         fused AS (
           SELECT coalesce(l.q_id, s.q_id) AS q_id,
             coalesce(l.doc_id, s.doc_id) AS doc_id,
             cast(coalesce(l.lex_rank, 0) AS int) AS lex_rank,
             cast(coalesce(s.sem_rank, 0) AS int) AS sem_rank,
             (CASE WHEN l.lex_rank IS NOT NULL
                THEN 1.0 / (60 + l.lex_rank) ELSE 0.0 END)
             + (CASE WHEN s.sem_rank IS NOT NULL
                THEN 1.0 / (60 + s.sem_rank) ELSE 0.0 END) AS rrf
           FROM lexranked l
           FULL OUTER JOIN semranked s
             ON l.q_id = s.q_id AND l.doc_id = s.doc_id)
         SELECT q_id, doc_id,
           cast(row_number() OVER (PARTITION BY q_id
             ORDER BY rrf DESC, doc_id) AS int) AS fused_rank,
           lex_rank, sem_rank, ${Det.sql("rrf", 6)} AS rrf
         FROM fused
         QUALIFY fused_rank <= 10"""
    })
}
