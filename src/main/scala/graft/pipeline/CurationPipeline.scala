package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.ops.Det
import graft.text.{BpeMerges, SequencePacking, TextAnalysis}

/** X25/X26 — the training-data curation pipeline END TO END: the 30+
  * individually-gated operators composed as one DAG over `documents`,
  * the way a pretraining-corpus owner actually runs them.
  *
  *   ingest → per-row quality gates (x2/x6) → exact fingerprint
  *   dedup (x6/d1) → benchmark decontamination (x13) → language
  *   mixture (x14) → repetition gate (x15) → near-dup keep-list
  *   (d2b pair graph + d6 star contraction) → shard assignment (x17)
  *   → per-shard sequence packing (x8) → [x26] BPE tokenize (x23).
  *
  * Scale shape — ONE lazy plan, materialized exactly once:
  *  - every per-row stage (gates, mixture membership, repetition
  *    profile) is a codegen'd expression FOLDED INTO THE SCAN — the
  *    pruned corpus never exists between them;
  *  - the exact-dedup hash agg is the first shuffle; decontamination
  *    broadcasts the (small, by definition) benchmark gram set and
  *    the contaminated-id hit list, so the corpus side pays no
  *    exchange for it;
  *  - the SURVIVING corpus is localCheckpoint'd ONCE (the "curated
  *    corpus" a real estate persists at this point) because both the
  *    near-dup pair graph and the final keep-join consume it — and
  *    the quadratic-in-candidates d2b stage thereby sees the SMALLEST
  *    possible corpus, after all cheap gates;
  *  - the keep-list itself is d6's star contraction: a near-dup
  *    graph at or under the cap derived from the broadcast threshold
  *    (`Dedup.localFinishCap`) is finished on the driver in one
  *    bounded collect and its labels broadcast into the keep-join;
  *    a larger one runs the edge-scale rounds with per-round
  *    checkpoints;
  *  - shard assignment is a scan-level key-mix projection; packing
  *    pays the pipeline's one remaining keyed exchange (co-locate by
  *    shard), identical to what the shard WRITER needs anyway.
  *
  * The x25 manifest (per-shard doc/sequence counts, token mass, and
  * an order-insensitive doc-id digest) is the artifact a shard writer
  * logs; it hash-gates against a DuckDB oracle that replays every
  * stage — gates, dedup, decontamination, mixture, repetition,
  * capped pair graph + recursive-CTE reachability, and the next-fit
  * packing recurrence — over the same parquet. x26 extends the DAG
  * through BPE tokenization (rows-only: the learned merge table is
  * not SQL-expressible; PipelineSpec pins consistency with x25).
  *
  * Design deltas vs the standalone queries, both deliberate:
  * x6's hard `lang == 'en'` gate is REPLACED by the x14 mixture (the
  * multilingual-corpus form — a hard gate would make the mixture
  * stage vacuous), and the x15 profile becomes a filter at
  * type_token_ratio ≥ 0.35, dup_3gram_ratio ≤ 0.2 (Gopher-style
  * repetition thresholds fitted to this corpus's distribution).
  */
object CurationPipeline {

  private val tokens = split(col("text"), " ")
  private val ShardCount = 8
  private val SeqBudget = 512

  /** Stages 1–5 (all per-row gates + the two bounded anti-sets),
    * ending in the curated multilingual corpus: (doc_id, lang, text,
    * n_tokens). */
  private[graft] def survivedPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // stage 1 — per-row gates (x2's quality composite; n >= 10).
    // token/stopword counts are the codegen'd kernels; everything
    // here folds into the parquet scan.
    val n = expr("token_count(text)").cast("double")
    val stopRatio =
      expr("stopword_count(text, 'the,a,and,of,to,in,is,on')")
        .cast("double") / n
    val quality = Det.r4(least(n / 200.0, lit(1.0)) * 0.5
      + least(stopRatio * 4.0, lit(1.0)) * 0.5)
    val fp = md5(array_join(array_sort(array_distinct(tokens)), " ")
      .cast("binary"))
    val gated = docs
      .select(col("doc_id"), col("lang"), col("text"),
        expr("token_count(text)").cast("bigint").as("n_tokens"),
        quality.as("q"), fp.as("fp"))
      .filter(col("n_tokens") >= 10 && col("q") >= 0.3)
    // stage 2 — exact canonical-fingerprint dedup (d1/x6 keep rule:
    // min doc_id). One min_by hash agg carries the whole kept row;
    // shuffling the text bytes once is the unavoidable price of
    // exact dedup (the keyed exchange every dedup at scale pays).
    val deduped = gated.groupBy("fp")
      .agg(min_by(struct(col("doc_id"), col("lang"), col("text"),
        col("n_tokens")), col("doc_id")).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.text").as("text"), col("k.n_tokens").as("n_tokens"))
    // stage 3 — x13 decontamination: drop the held-out slice itself
    // AND any training doc sharing a 4-gram with it. Benchmark grams
    // and the contaminated-id hit list are broadcast (eval sets are
    // small by definition; hit lists are rare-event sets), so the
    // corpus side pays no exchange here.
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(expr("ngrams_distinct(text, 4)"))
      .select("ngram").distinct()
    val train = deduped.filter(col("doc_id") % 50 =!= 0)
    val contaminated = train
      .select(col("doc_id"), expr("ngrams_distinct(text, 4)"))
      .select("doc_id", "ngram")
      .join(broadcast(bench), "ngram")
      .select("doc_id").distinct()
    val clean = train
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // stage 4 — x14 language-mixture sampling (key-derived membership,
    // scan-level filter, no RNG)
    val mixed = TextAnalysis.mixtureFilter(clean)
    // stage 5 — x15 repetition/diversity gate (Gopher-style), on the
    // codegen'd distinct_ngram_count kernels
    val nD = col("n_tokens").cast("double")
    val nGram = greatest(col("n_tokens") - 2, lit(0L)).cast("double")
    val ttr =
      Det.r6(expr("distinct_ngram_count(text, 1)").cast("double") / nD)
    val dup3 = Det.r6(when(nGram > lit(0.0), lit(1.0)
      - expr("distinct_ngram_count(text, 3)").cast("double") / nGram)
      .otherwise(lit(0.0)))
    mixed.filter(ttr >= 0.35 && dup3 <= 0.2)
      .select("doc_id", "lang", "text", "n_tokens")
  }

  /** The curated corpus, materialized ONCE per (session, dir): both
    * the d2b pair graph and the keep-join consume it, and x26 reuses
    * it after x25 — this checkpoint is the pipeline's single
    * persisted intermediate (the point a real estate writes the
    * curated corpus to storage). Executor-local MEMORY_AND_DISK; on
    * a cluster, `checkpoint` to durable storage is the same move. */
  private val survivedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  private[graft] def survivedDocs(s: SparkSession, dir: String): DataFrame =
    survivedCache.computeIfAbsent((s.sparkContext.applicationId, dir),
      _ => graft.SessionCaches.pin(survivedPlan(s, dir)))

  /** Stages 6–7: near-dup keep-list over the survivors (d2b capped
    * pair graph → d6 star contraction → keep component minimum),
    * then x17 shard assignment. Returns one row per KEPT doc:
    * (doc_id, text, n_tokens, shard). Cached per (session, dir) like
    * the survivors: the keep-list IS the pipeline's materialization
    * point, and x26 consumes it right after x25 built it — without
    * the cache the pair graph + star contraction run twice. */
  private val keptCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  private[graft] def keptDocs(s: SparkSession, dir: String): DataFrame =
    keptCache.computeIfAbsent((s.sparkContext.applicationId, dir),
      _ => graft.SessionCaches.pin(keptPlan(s, dir)))

  private[graft] def keptPlan(s: SparkSession, dir: String): DataFrame = {
    val survived = survivedDocs(s, dir)
    val pairs = Dedup.d2PairsOf(
      survived.select("doc_id", "text"), Dedup.StopShingleCap)
      .select("doc_a", "doc_b")
    val (labels, _) = Dedup.alternatingStarLabels(pairs)
    survived
      .join(labels, Seq("doc_id"), "left")
      .filter(col("rep").isNull || col("rep") === col("doc_id"))
      .select(col("doc_id"), col("text"), col("n_tokens"),
        (shiftright(col("doc_id") * 2654435761L, 16) % ShardCount)
          .as("shard"))
  }

  /** X25 — the oracle-gated shard manifest: per shard, kept-doc
    * count, packed-sequence count (x8 next-fit at a 512-token
    * budget), whitespace-token mass, and an order-insensitive md5
    * digest of the kept doc_ids (sorted-numeric, space-joined — the
    * x4/d1 canonicalization applied to the membership set).
    *
    * The sequence count needs no distinct aggregate: next-fit uses
    * bin 0 exactly when a shard has a non-oversize doc and every bin
    * 1..max after it, so it is [[SequencePacking.binCount]] — plain
    * maxes beside `collect_list`, not Spark's single-distinct plan.
    * The oracle keeps `count(DISTINCT …)`, so the hash checks the
    * identity. */
  def x25PipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val kept = keptDocs(s, dir)
    val packed = SequencePacking.packByGroup(
      kept.select("doc_id", "n_tokens"), SeqBudget, ShardCount,
      shiftright(col("doc_id") * 2654435761L, 16) % ShardCount)
    packed
      .groupBy(shiftright(col("seq_id"), 32).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        SequencePacking.binCount.as("n_sequences"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")), " ").cast("binary")).as("docs_hash"))
  }

  /** X26 — the pipeline through tokenization: BPE token mass per
    * shard for the kept docs, using the x22 fit from the SESSION
    * CACHE (the tokenizer is trained once on the full corpus and
    * shared — see BpeMerges.learnedMerges). Rows-only gate (the
    * learned table is data-derived); PipelineSpec pins agreement
    * with the x25 manifest and the char-vs-BPE compression bound,
    * and [[x26bTokenGate]] value-gates the identical counting
    * machinery under a pinned merge table with a closed form. */
  def x26PipelineTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = BpeMerges.learnedMerges(s, dir)
      .map { case (_, l, r, _) => (l, r) }
    keptDocs(s, dir)
      .select(col("doc_id"), col("shard"), col("n_tokens"), expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)").as("words"))
      .as[(Long, Long, Long, Seq[String])]
      .mapPartitions { it =>
        val bpe = BpeMerges.tokenCounter(merges)
        it.map { case (id, shard, nTok, words) =>
          (id, shard, nTok, words.map(bpe).sum)
        }
      }
      .toDF("doc_id", "shard", "n_ws_tokens", "n_bpe_tokens")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws_tokens").cast("bigint").as("sum_ws_tokens"),
        sum("n_bpe_tokens").cast("bigint").as("sum_bpe_tokens"))
  }

  /** Pinned two-rank merge table for the [[x26bTokenGate]]: (t,h)
    * then (th,e). Chosen because its token count has a CLOSED FORM
    * over the raw word — "th" bigrams can never overlap each other
    * (two starts one apart would need s[i+1] = 't' AND 'h') and
    * every "th" substring becomes one th-token under greedy
    * left-to-right merging, so rank 1 fires exactly
    * occ(w, "th") times; after it, every "the" substring is exactly
    * one (th,e) adjacency (the e can belong to no other th), so rank
    * 2 fires occ(w, "the") times, and
    *   tokens(w) = len(w) − occ(w,"th") − occ(w,"the")
    * — plain replace()/length arithmetic in SQL. */
  private val GatePinnedMerges = Seq(("t", "h"), ("th", "e"))

  /** X26B — the TOKENIZER ORACLE GATE for the pipeline's x26 leg
    * (VERDICT r9 §6: x26 was gated only by consistency with x25, so
    * a token-count bug shared by both would pass): the IDENTICAL
    * x26 machinery — keptDocs DAG, word extraction regex, the shared
    * [[BpeMerges.tokenCounter]] memoized merge-replay kernel, shard
    * grouping — but with the [[GatePinnedMerges]] table instead of
    * the learned one, so the expected BPE token mass has the closed
    * form above and the whole path replays in DuckDB (kept-docs CTEs
    * + replace/length arithmetic). A counting bug in the kernel, the
    * word regex, the 64-char word cap, or the shard rollup now fails
    * HERE even if x25 and x26 share it. */
  def x26bTokenGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    keptDocs(s, dir)
      .select(col("doc_id"), col("shard"), col("n_tokens"), expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)").as("words"))
      .as[(Long, Long, Long, Seq[String])]
      .mapPartitions { it =>
        val bpe = BpeMerges.tokenCounter(GatePinnedMerges)
        it.map { case (id, shard, nTok, words) =>
          (id, shard, nTok, words.map(bpe).sum)
        }
      }
      .toDF("doc_id", "shard", "n_ws_tokens", "n_bpe_tokens")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws_tokens").cast("bigint").as("sum_ws_tokens"),
        sum("n_bpe_tokens").cast("bigint").as("sum_bpe_tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x25_pipeline_e2e" -> x25PipelineE2e,
    "x26_pipeline_tokens" -> x26PipelineTokens,
    "x26b_token_gate" -> x26bTokenGate)

  // ---- oracle ----------------------------------------------------

  private val stopEnList =
    "('the', 'a', 'and', 'of', 'to', 'in', 'is', 'on')"
  private val sp = "string_split(text, ' ')"
  private def grams4(src: String) =
    s"""SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len($sp) - 2, 1)),
          i -> $sp[i] || ' ' || $sp[i+1] || ' ' || $sp[i+2]
               || ' ' || $sp[i+3]))) AS gram
        FROM $src"""

  /** The kept-docs DAG as a reusable WITH-clause body (gates → exact
    * dedup → decontamination → mixture → repetition → near-dup
    * keep-list), ending in `kept(doc_id, text, n_tokens, shard)` —
    * shared by the x25 manifest oracle and the x26b tokenizer-gate
    * oracle so the two replays cannot drift. */
  private val keptCtes: String = {
    val n = s"cast(len($sp) AS double)"
    val stopRatio = s"(cast(len(list_filter($sp, " +
      s"t -> t IN $stopEnList)) AS double) / $n)"
    val quality = Det.sql(s"least($n / 200.0, 1.0) * 0.5 " +
      s"+ least($stopRatio * 4.0, 1.0) * 0.5", 4)
    val grams3 = s"list_distinct(list_transform(" +
      s"range(1, greatest(len($sp) - 1, 1)), " +
      s"i -> $sp[i] || ' ' || $sp[i+1] || ' ' || $sp[i+2]))"
    val ttr = Det.sql(
      s"cast(len(list_distinct($sp)) AS double) / len($sp)", 6)
    val dup3 = Det.sql(
      s"""CASE WHEN greatest(len($sp) - 2, 0) > 0
          THEN 1.0 - cast(len($grams3) AS double)
               / greatest(len($sp) - 2, 0)
          ELSE 0.0 END""", 6)
    val mixPct = TextAnalysis.mixturePct
      .map { case (l, p) => s"WHEN lang = '$l' THEN $p" }.mkString(" ")
    s"""WITH RECURSIVE
       gated AS (
         SELECT doc_id, lang, text,
           cast(len($sp) AS bigint) AS n_tokens,
           md5(array_to_string(list_sort(list_distinct($sp)), ' ')) AS fp
         FROM documents
         WHERE len($sp) >= 10 AND $quality >= 0.3),
       dedup AS (
         SELECT g.* FROM gated g
         JOIN (SELECT fp, min(doc_id) AS keep_id
               FROM gated GROUP BY 1) k
           ON g.doc_id = k.keep_id),
       bench_grams AS (
         SELECT DISTINCT gram
         FROM (${grams4("documents WHERE doc_id % 50 = 0")})),
       contaminated AS (
         SELECT DISTINCT doc_id
         FROM (${grams4("dedup WHERE doc_id % 50 <> 0")}) g
         JOIN bench_grams USING (gram)),
       clean AS (
         SELECT * FROM dedup
         WHERE doc_id % 50 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       mixed AS (
         SELECT * FROM clean
         WHERE ((doc_id * 2654435761) >> 16) % 100 <
           CASE $mixPct ELSE 5 END),
       survived AS (
         SELECT * FROM mixed
         WHERE $ttr >= 0.35 AND $dup3 <= 0.2),
       w AS (
         SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len($sp) - 1, 1)),
           i -> $sp[i] || ' ' || $sp[i+1] || ' ' || $sp[i+2])) AS sh
         FROM survived),
       sh_e AS (SELECT doc_id, unnest(sh) AS s FROM w),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS shared
             FROM sh_e a JOIN sh_e b
               ON a.s = b.s AND a.doc_id < b.doc_id
             WHERE a.s IN (SELECT s FROM sh_e
                           GROUP BY s
                           HAVING count(*) <= ${Dedup.StopShingleCap})
             GROUP BY 1, 2),
       nn AS (SELECT doc_id, len(sh) AS n FROM w),
       dup AS (SELECT doc_a, doc_b
               FROM p JOIN nn na ON na.doc_id = doc_a
                      JOIN nn nb ON nb.doc_id = doc_b
               WHERE shared / (na.n + nb.n - shared) >= 0.4),
       ed AS (SELECT doc_a AS src, doc_b AS dst FROM dup
              UNION ALL SELECT doc_b, doc_a FROM dup),
       reach AS (SELECT doc_id AS a, doc_id AS b FROM survived
                 UNION
                 SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src),
       keeplist AS (
         SELECT a AS doc_id FROM reach GROUP BY 1 HAVING a = min(b)),
       kept AS (
         SELECT s.doc_id, s.text, s.n_tokens,
           ((s.doc_id * 2654435761) >> 16) % $ShardCount AS shard
         FROM survived s JOIN keeplist USING (doc_id))"""
  }

  /** Replays the whole DAG in DuckDB: every stage literal-for-literal
    * with the Spark expressions (Det rounding included), the d2b/d6
    * keep-list as the capped pair graph + recursive reachability, and
    * the x8 packing recurrence per shard. */
  private val x25Oracle: String =
    s"""$keptCtes,
       base AS (
         SELECT shard AS grp, doc_id, n_tokens AS t,
           row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
         FROM kept),
       pack(grp, rn, doc_id, t, bin, fill, curbin, nextbin) AS (
         SELECT grp, rn, doc_id, t,
           CASE WHEN t > $SeqBudget THEN 1 ELSE 0 END,
           CASE WHEN t > $SeqBudget THEN 0 ELSE t END,
           0,
           CASE WHEN t > $SeqBudget THEN 2 ELSE 1 END
         FROM base WHERE rn = 1
         UNION ALL
         SELECT b.grp, b.rn, b.doc_id, b.t,
           CASE WHEN b.t > $SeqBudget THEN p.nextbin
                WHEN p.fill + b.t > $SeqBudget THEN p.nextbin
                ELSE p.curbin END,
           CASE WHEN b.t > $SeqBudget THEN p.fill
                WHEN p.fill + b.t > $SeqBudget THEN b.t
                ELSE p.fill + b.t END,
           CASE WHEN b.t > $SeqBudget THEN p.curbin
                WHEN p.fill + b.t > $SeqBudget THEN p.nextbin
                ELSE p.curbin END,
           CASE WHEN b.t > $SeqBudget THEN p.nextbin + 1
                WHEN p.fill + b.t > $SeqBudget THEN p.nextbin + 1
                ELSE p.nextbin END
         FROM pack p JOIN base b ON b.grp = p.grp AND b.rn = p.rn + 1)
       SELECT grp AS shard,
         cast(count(*) AS bigint) AS n_docs,
         cast(count(DISTINCT bin) AS bigint) AS n_sequences,
         cast(sum(t) AS bigint) AS sum_tokens,
         md5(array_to_string(list_transform(list_sort(list(doc_id)),
           x -> cast(x AS varchar)), ' ')) AS docs_hash
       FROM pack GROUP BY 1"""

  /** The closed-form token arithmetic of [[GatePinnedMerges]] over
    * the same kept-docs CTEs (64-char word cap mirrored via left();
    * "th"/"the" occurrences counted by replace()-shrinkage — both
    * are non-overlapping by construction, see the merge-table
    * scaladoc). */
  private val x26bOracle: String = {
    val w = "left(w, 64)"
    val tok = s"length($w) - " +
      s"(length($w) - length(replace($w, 'th', ''))) // 2 - " +
      s"(length($w) - length(replace($w, 'the', ''))) // 3"
    s"""$keptCtes
       SELECT shard,
         cast(count(*) AS bigint) AS n_docs,
         cast(sum(n_tokens) AS bigint) AS sum_ws_tokens,
         cast(sum(coalesce(list_sum(list_transform(
           regexp_extract_all(lower(text), '[a-z]+'),
           w -> $tok)), 0)) AS bigint) AS sum_bpe_tokens
       FROM kept GROUP BY 1"""
  }

  val oracle: Map[String, String] = Map(
    "x25_pipeline_e2e" -> x25Oracle,
    "x26b_token_gate" -> x26bOracle)
}
