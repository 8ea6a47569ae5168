package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Det

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline extension layer (north-star §7 phase 4; the
  * reference itself has no text ops beyond `str_pad`/glue, R:306).
  *
  * All ops are pure per-row expressions, no shuffle, no UDF: at
  * 100 TB these run at parquet-scan speed. The token/stopword COUNTS
  * on the hot path are graft's native codegen'd kernels
  * ([[graft.functions.TokenCount]]/[[graft.functions.StopwordCount]]
  * — Catalyst higher-order functions like `filter(split(...))` are
  * CodegenFallback and would drop these projections out of
  * WholeStageCodegen); ops needing the actual token ARRAY (x4's
  * canonical fingerprint, x7's explode) keep `split`. */
object TextAnalysis {

  private val tokens = split(col("text"), " ")

  /** Kernel-equality contract: `token_count(text)` ==
    * `size(split(text, ' '))` and `stopword_count(text, ws)` ==
    * `size(filter(split(text, ' '), t -> t IN ws))` — byte-for-byte
    * split semantics, asserted in TextKernelsSpec; the DuckDB oracles
    * keep the equivalent `string_split` formulations. */
  private val nTokens = expr("token_count(text)")

  /** English-ish stopword list (subset present in the synthetic vocab). */
  private val stopEn = Seq("the", "a", "and", "of", "to", "in", "is", "on")
  private val stopDe = Seq("der", "die", "das", "und", "nicht", "ein")
  private val stopEs = Seq("el", "la", "los", "que", "y", "un")
  private val stopFr = Seq("le", "la", "les", "et", "un", "une")

  private def inList(vs: Seq[String]): String =
    vs.map(v => s"'$v'").mkString("(", ", ", ")")

  /** Count of tokens belonging to a fixed set — the codegen'd
    * StopwordCount kernel (no array materialization, no lambda
    * dispatch, no shuffle). */
  private def stopCount(vs: Seq[String]): org.apache.spark.sql.Column =
    expr(s"stopword_count(text, '${vs.mkString(",")}')")

  /** X1 — token counting: whitespace tokens + regex (BPE-ish
    * word/number/symbol) tokens. */
  def x1TextTokens(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).select(
      col("doc_id"),
      nTokens.cast("bigint").as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
        .cast("bigint").as("n_word_tokens"))
  }

  /** The x2 composite quality score (r4-rounded, in [0, 1]) — shared
    * by x2's per-doc report and x43's budget selection so the two
    * rank documents identically. */
  private def qualityScore: org.apache.spark.sql.Column = {
    val n = nTokens.cast("double")
    val stopRatio = stopCount(stopEn).cast("double") / n
    Det.r4(least(n / 200.0, lit(1.0)) * 0.5
      + least(stopRatio * 4.0, lit(1.0)) * 0.5)
  }

  /** X2 — quality scoring: length, token stats, stopword ratio, and a
    * composite quality score. Single-space-joined text means total
    * token chars = length - (n-1). */
  def x2TextQuality(s: SparkSession, dir: String): DataFrame = {
    val n = nTokens.cast("double")
    val stopRatio = stopCount(stopEn).cast("double") / n
    val avgTokLen = (length(col("text")).cast("double") - n + 1.0) / n
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars_calc"),
      n.cast("bigint").as("n_tokens"),
      Det.r4(avgTokLen).as("avg_token_len"),
      Det.r4(stopRatio).as("stopword_ratio"),
      qualityScore.as("quality_score"))
  }

  /** X3 — language ID via stopword-profile scoring (n-gram-free
    * heuristic; the labeled `lang` column is synthetic so the point is
    * the operator, not accuracy). Deterministic argmax with fixed
    * tiebreak order en > de > es > fr. */
  def x3TextLangid(s: SparkSession, dir: String): DataFrame = {
    val (en, de, es, fr) =
      (stopCount(stopEn), stopCount(stopDe), stopCount(stopEs),
        stopCount(stopFr))
    val predicted =
      when(en >= de && en >= es && en >= fr, "en")
        .when(de >= es && de >= fr, "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      predicted.as("predicted_lang"),
      (predicted === col("lang")).as("is_match"))
  }

  /** X4 — document fingerprinting: canonical content fingerprint =
    * md5 of the sorted distinct token set (order/duplication
    *-insensitive, the canonicalization used by d1 fingerprint dedup). */
  def x4TextFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens)), " ")
        .cast("binary")).as("fingerprint"),
      size(array_distinct(tokens)).cast("bigint").as("n_distinct_tokens"))

  /** X6 — corpus curation E2E: the composed filter→dedup pass a
    * training-data pipeline runs before tokenization — predicted-
    * language gate (x3's argmax), token-count and quality gates
    * (x1/x2), then canonical-fingerprint dedup keeping the lowest
    * doc_id (d1's canonicalization), with the duplicate count kept as
    * provenance. All gates are codegen'd per-row expressions folded
    * into the scan; the dedup is ONE `min_by` aggregate on the
    * fingerprint with map-side partials (physical plan is a
    * SortAggregate — struct buffers aren't hash-mutable — so each
    * partition sorts its FILTERED rows, but only aggregated partials
    * cross the single exchange; no full-table window shuffle-sort).
    * At 100 TB: one scan + one shuffle, nothing else. */
  def x6CorpusCuration(s: SparkSession, dir: String): DataFrame = {
    fingerprintDedup(curationGates(Tables.documents(s, dir)))
  }

  /** The STATELESS half of x6 — per-row gates (length, quality,
    * language), safe in a streaming query with no watermark; also the
    * per-row stage of the batch curation. The frame's session must
    * have graft's extensions (see `graft.GraftExtensions`). */
  private[graft] def curationGates(docs: DataFrame): DataFrame = {
    val n = nTokens.cast("double")
    val stopRatio = stopCount(stopEn).cast("double") / n
    val quality = Det.r4(least(n / 200.0, lit(1.0)) * 0.5
      + least(stopRatio * 4.0, lit(1.0)) * 0.5)
    val (en, de, es, fr) =
      (stopCount(stopEn), stopCount(stopDe), stopCount(stopEs),
        stopCount(stopFr))
    val predicted =
      when(en >= de && en >= es && en >= fr, "en")
        .when(de >= es && de >= fr, "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    val fp = md5(array_join(array_sort(array_distinct(tokens)), " ")
      .cast("binary"))
    docs
      .select(col("doc_id"), n.cast("bigint").as("n_tokens"),
        quality.as("quality_score"), predicted.as("predicted_lang"),
        fp.as("fingerprint"))
      .filter(col("predicted_lang") === "en" &&
        col("n_tokens") >= 10 && col("quality_score") >= 0.3)
  }

  /** The STATEFUL half of x6 — keep the min-doc_id representative per
    * content fingerprint. One hash aggregate; in the streaming twin it
    * runs per micro-batch inside foreachBatch. */
  private[graft] def fingerprintDedup(gated: DataFrame): DataFrame =
    gated
      .groupBy("fingerprint")
      .agg(min_by(struct(col("doc_id"), col("n_tokens"),
          col("quality_score")), col("doc_id")).as("k"),
        count(lit(1)).as("n_dupes"))
      .select(col("k.doc_id").as("doc_id"),
        col("k.n_tokens").as("n_tokens"),
        col("k.quality_score").as("quality_score"),
        col("fingerprint"), col("n_dupes"))

  /** X7 — vocabulary stats: top-50 tokens by corpus frequency, the
    * vocab/frequency pass of a tokenizer-training pipeline. explode →
    * partial+final hash aggregate → TakeOrderedAndProject: the
    * shuffle carries one row per DISTINCT token per partition (map-
    * side combine), and the top-k never materializes the full sorted
    * vocab. Deterministic total order (count desc, token) so the
    * limit boundary is engine-independent. */
  def x7TokenVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(50)

  /** X9 — approximate heavy hitters over the token stream: the
    * Misra–Gries mergeable summary ([[graft.functions.HeavyHitters]],
    * k=64) next to x7's exact top-k, the way g13's sketches sit next
    * to the exact aggregates. x7 shuffles one row per DISTINCT token
    * per partition; this shuffles one 64-entry map per partition
    * regardless of vocabulary size — the constant-memory path when
    * the token space itself is huge (URLs, n-grams, ids). Reported
    * counts are lower bounds short by ≤ n/65; HeavyHittersSpec pins
    * the envelope against exact counts. Rows-only (sketch contents
    * are order-sensitive; only the guarantees are portable). */
  def x9HeavyHitters(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens).as("token"))
      .agg(graft.functions.HeavyHitters.heavyHitters(64)(col("token"))
        .as("hh"))
      .select(explode(col("hh")).as(Seq("token", "count_lb")))
      .orderBy(col("count_lb").desc, col("token"))
      .limit(20)

  /** X9B — the Misra–Gries ORACLE GATE (the n7 planted-gate pattern,
    * for sketches): run the IDENTICAL k=64 summary — same Aggregator,
    * same partial/merge path across partitions — over a stream whose
    * key domain is bounded UNDER the sketch capacity (token length
    * capped at 30 → ≤ 31 distinct keys). With distinct ≤ k the update
    * rule never decrements and the shuffle merge never truncates, so
    * every reported lower bound is the EXACT count and the output
    * equals a plain GROUP BY — a closed form DuckDB states directly.
    * This value-gates the sketch machinery itself (per-partition
    * folds, map-side summaries, the Agarwal et al. merge); the
    * unbounded-domain x9 keeps its rows-only + envelope-spec
    * contract, which is the honest claim for a lossy summary. */
  def x9bHeavyHittersGate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens).as("token"))
      .select(least(length(col("token")), lit(30)).cast("string")
        .as("len_key"))
      .agg(graft.functions.HeavyHitters.heavyHitters(64)(col("len_key"))
        .as("hh"))
      .select(explode(col("hh")).as(Seq("len_key", "count_lb")))
      .orderBy(col("count_lb").desc, col("len_key"))
      .limit(20)

  /** X10 — the native `ngrams` UDTF ([[graft.functions.NGramGenerator]])
    * in anger: every 3-token window of every document with its
    * position, streamed through GenerateExec with no intermediate
    * array column. Oracle re-derives the windows with a lateral
    * unnest over generate_series. */
  def x10Ngrams(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), expr("ngrams(text, 3)"))
      .select(col("doc_id"), col("ngram"), col("pos"))
  }

  /** X11 — BM25 ranked retrieval (Robertson & Walker 1994; the
    * Okapi weighting every lexical search stack still runs): top-20
    * documents for a fixed conjunctive term set. One exploded
    * hash-aggregate computes per-doc length AND per-term tf in the
    * same pass (CASE-sums — no per-term scan); corpus stats (N,
    * avgdl, per-term df) reduce to ONE broadcast row; scoring is a
    * scan-side expression and the tail is TakeOrderedAndProject.
    * Parity note: the three term scores add in WRITTEN order — a
    * `sum()` over an exploded term table would accumulate in
    * engine-specific order, and a ULP can cross the rounding
    * boundary (the q1 round-1 lesson, applied to floats-by-design
    * scores instead of money). */
  def x11Bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("scan", "window", "join")
    // k1=1.2, b=0.75 — every constant appears as the SAME literal in
    // the oracle SQL (k1+1 pre-folded to 2.2, 1-b to 0.25): a
    // Scala-side fold could land one ulp off the parsed SQL literal
    val perDoc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("dl"),
        terms.map(t => sum(when(col("token") === t, 1).otherwise(0))
          .cast("double").as(s"tf_$t")): _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl") +:
        terms.map(t => sum(when(col(s"tf_$t") > 0, 1).otherwise(0))
          .cast("double").as(s"df_$t")): _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    val termScore = terms.map { t =>
      val idf = log((col("n_docs") - col(s"df_$t") + lit(0.5))
        / (col(s"df_$t") + lit(0.5)) + lit(1.0))
      idf * (col(s"tf_$t") * lit(2.2)) /
        (col(s"tf_$t") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _) // written order: scan + window + join
    scored.select(col("doc_id"), Det.r6(termScore).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** X12 — unigram language-model quality score: per-document mean
    * negative log-likelihood under the corpus's own unigram
    * distribution, the classic cheap perplexity proxy every curation
    * stack runs before an expensive LM pass (documents full of rare
    * tokens score high / weird, boilerplate scores low). Two keyed
    * shuffles: token-count aggregate (the x7 vocab shape) and the
    * token→frequency join back (broadcast when the vocab fits, keyed
    * join when it doesn't — the optimizer's call, both shapes scale).
    *
    * Cross-engine determinism: each token's −ln p is QUANTIZED to
    * 1e−4 (floor(x·1e4+0.5) — an exact small integer in a double), so
    * the per-doc sum is order-independent integer arithmetic; a raw
    * double sum would accumulate in engine/partition order and a ULP
    * could cross the final rounding boundary (the q1 round-1 lesson). */
  def x12UnigramNll(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens).as("t"))
    // materialize the vocabulary once: it feeds BOTH the total-count
    // scalar and the per-token join, and unmaterialized it would run
    // its corpus scan + global shuffle twice per action. The table is
    // vocabulary-sized (sub-linear in the corpus by Heaps' law), so
    // the checkpoint is cheap; integer counts ⇒ bit-identical.
    val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val total = vocab.agg(sum(col("c")).cast("double").as("n"))
    val q = tok.join(vocab, "t").crossJoin(broadcast(total))
      .withColumn("q",
        floor(log(col("n") / col("c").cast("double")) * 10000.0 + 0.5))
    q.groupBy("doc_id")
      .agg(Det.r6(sum(col("q")) / (lit(10000.0) * count(lit(1))))
          .as("nll_per_token"),
        count(lit(1)).as("n_tokens"))
  }

  /** X13 — benchmark-contamination detection: corpus documents
    * sharing a 4-token n-gram with the held-out "benchmark" slice
    * (doc_id % 50 == 0 — in production, the eval sets you must not
    * train on). The standard decontamination tool (GPT-3 appendix C
    * uses 13-gram collisions at ~1000-token scale; 4 of ~50 here is
    * the same proportion). Shape: per-doc-distinct (doc, gram) pairs
    * stream out of the native `ngrams_distinct` UDTF — dedup is
    * per-document set semantics, so it happens ROW-LOCALLY inside the
    * generator (a per-row HashSet), never as a corpus-wide
    * `.distinct()` exchange of the exploded pairs. The benchmark side
    * reads its own scan (the `doc_id % 50 == 0` filter pushes to the
    * parquet source), dedups its small gram set, and broadcasts —
    * benchmark sets are small by definition — so the only exchange
    * the corpus pays is the final per-doc count agg over matched
    * rows. Emits each contaminated doc with its distinct shared-gram
    * count (the drop/flag decision input). */
  /** X33 — interpolated bigram-LM NLL, the tier between x12's
    * unigram proxy and a real LM pass: per-doc mean −ln p(t|prev)
    * under a Jelinek–Mercer mixture (λ·c(prev,t)/c(prev) +
    * (1−λ)·c(t)/N, λ=0.8) fit on the corpus itself. Bigram instances
    * come from the native `ngrams` Generator — a pure scan, no
    * per-doc window sort — and the three count tables (bigram,
    * context, unigram) are one hash agg each, broadcast back while
    * the bigram vocabulary is bounded (at open-vocab crawl scale the
    * c(prev,t) join falls back to one keyed exchange on the gram;
    * everything else stays scan-level). Per-instance NLL quantizes
    * to 1e−4 integers before the per-doc sum (the x12 trick:
    * order-independent integer arithmetic, cross-engine identical),
    * and the probability expression is written operation-for-
    * operation identically in the DuckDB oracle. Docs shorter than
    * two tokens have no bigrams and drop out on both sides. */
  def x33BigramNll(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bg = docs.select(col("doc_id"), expr("ngrams(text, 2)"))
      .select(col("doc_id"),
        split(col("ngram"), " ").getItem(0).as("p"),
        split(col("ngram"), " ").getItem(1).as("t"))
    val tok = docs.select(col("doc_id"), explode(tokens).as("t"))
    // Count-table construction, restructured by the r13 plan audit
    // (it counted 5 corpus text scans in this one query):
    //  - c(prev) = Σ_t c(prev,t) BY DEFINITION, so the context table
    //    folds off the bigram table instead of re-running the ngrams
    //    Generator over the corpus a second time — bit-identical
    //    counts (both sides aggregate the same integer instances);
    //  - bc and uni are vocabulary-sized (sub-linear in the corpus by
    //    Heaps' law — the x12 precedent above), and each has TWO
    //    consumers (bc: the broadcast join + the pc fold; uni: the
    //    join + the total scalar); a lazy persist shares each across
    //    its consumers without the eager checkpoint jobs that would
    //    otherwise tax the single-action query shape.
    // Corpus passes: 5 → 3 (bigram counts, unigram counts, scoring) —
    // the floor for this statistic without caching corpus-scale rows.
    val bc = bg.groupBy("p", "t").agg(count(lit(1)).as("cpt")).persist()
    val pc = bc.groupBy("p").agg(sum("cpt").as("cp"))
    val uni = tok.groupBy("t").agg(count(lit(1)).as("ct")).persist()
    val total = uni.agg(sum(col("ct")).cast("double").as("n"))
    val prob =
      lit(0.8) * (col("cpt").cast("double") / col("cp").cast("double")) +
        lit(0.2) * (col("ct").cast("double") / col("n"))
    bg.join(broadcast(bc), Seq("p", "t"))
      .join(broadcast(pc), Seq("p"))
      .join(broadcast(uni), Seq("t"))
      .crossJoin(broadcast(total))
      .withColumn("q", floor(-log(prob) * 10000.0 + 0.5))
      .groupBy("doc_id")
      .agg(Det.r6(sum(col("q")) / (lit(10000.0) * count(lit(1))))
          .as("nll_per_bigram"),
        count(lit(1)).as("n_bigrams"))
  }

  def x13Contamination(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), expr("ngrams_distinct(text, 4)"))
        .select("doc_id", "ngram")
    val docs = Tables.documents(s, dir)
    val bench = grams(docs.filter(col("doc_id") % 50 === 0))
      .select("ngram").distinct()
    grams(docs.filter(col("doc_id") % 50 =!= 0))
      .join(broadcast(bench), "ngram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_4grams"))
  }

  /** Per-language keep percentages for the x14 mixture — the dial a
    * pretraining-mixture owner turns (upsample the target language,
    * downsample the rest). Shared literal-for-literal with the
    * oracle. */
  private[graft] val mixturePct: Seq[(String, Int)] =
    Seq("en" -> 100, "de" -> 50, "es" -> 25, "fr" -> 10)
  private val mixtureDefaultPct = 5 // any other language

  /** X14 — language-mixture sampling: deterministic per-language
    * downsampling to a target mixture (the data-mixture control every
    * multilingual pretraining corpus goes through). Membership is
    * KEY-DERIVED (SURVEY §7.1 — the same multiplicative mix as o3:
    * high bits of the Knuth product, `>> 16`, BEFORE the modulus —
    * the product's low digits are periodic in doc_id, the high bits
    * are not), so the op is a pure scan-level filter: no RNG, no
    * shuffle, and re-running on the same corpus keeps the identical
    * subset (reproducible mixtures are what make ablations
    * comparable). Keep rule:
    * ((doc_id · 2654435761) >> 16) % 100 < pct(lang). */
  def x14MixtureSample(s: SparkSession, dir: String): DataFrame =
    mixtureFilter(Tables.documents(s, dir)).select("doc_id", "lang")

  /** The x14 membership filter alone — shared with the streaming
    * quality gate (stateless, so it applies to a stream unchanged). */
  private[graft] def mixtureFilter(docs: DataFrame): DataFrame = {
    val pct = mixturePct.foldRight(lit(mixtureDefaultPct)) {
      case ((l, p), acc) => when(col("lang") === l, p).otherwise(acc)
    }
    docs.filter(shiftright(col("doc_id") * 2654435761L, 16) % 100 < pct)
  }

  /** X37 — temperature-based mixture sampling (the T5/mT5
    * α-sampling step, α = 0.5): where x14 takes HAND-SET per-language
    * percentages, this derives them from the corpus itself — target
    * share ∝ √(n_lang) — so low-resource languages are upsampled
    * relative to their raw share, the standard multilingual
    * rebalancing. Fully deterministic cross-engine by construction:
    * √ is correctly rounded in IEEE 754 (unlike pow/exp, identical
    * in every engine), the per-language weight quantizes to
    * `floor(√n·1e6)` BIGINT before the cross-language sum (integer
    * addition — order-independent), the keep-fraction is one
    * double division of integers, and membership is the o3/x14
    * key-mix against a `floor(f·1e5)` integer threshold. Two tiny
    * aggs (per-lang counts, one global weight row) broadcast back;
    * the filter itself is scan-level. Targets ~half the corpus. */
  def x37TemperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_l"))
      .withColumn("w_q",
        floor(sqrt(col("n_l").cast("double")) * 1e6).cast("long"))
    val tot = counts.agg(sum(col("n_l")).as("n_tot"),
      sum(col("w_q")).as("w_tot"))
    val frac = counts.crossJoin(broadcast(tot))
      // target count for lang l: (n_tot/2) · w_l/Σw, capped at n_l
      .withColumn("thresh",
        least(lit(100000L),
          floor((col("n_tot").cast("double") / 2.0)
            * col("w_q").cast("double")
            / (col("w_tot").cast("double")
              * col("n_l").cast("double")) * 100000.0).cast("long")))
      .select("lang", "thresh")
    docs.join(broadcast(frac), "lang")
      .filter(
        shiftright(col("doc_id") * 2654435761L, 16) % 100000 <
          col("thresh"))
      .select("doc_id", "lang")
  }

  /** X48 — DOMAIN REWEIGHTING from excess loss (the DoReMi idea —
    * Xie et al. 2023, "Doremi: Optimizing data mixtures speeds up
    * language model pretraining" — reduced to one deterministic
    * analytic step): for each `source` domain, measure how much
    * worse the SHARED corpus unigram LM scores the domain's tokens
    * than the domain's OWN unigram LM — the per-token excess NLL
    *   excess(d) = mean_d[−ln p_corpus(t)] − mean_d[−ln p_d(t)] ≥ 0
    * (non-negative by Gibbs' inequality over the same token stream).
    * A high-excess domain is one a shared model underserves, so the
    * mixture upweights it:  w(d) ∝ share(d) · (1 + excess(d)),
    * normalized. The exp(η·excess) of the paper's multiplicative-
    * weights step is LINEARIZED to its first-order form — libm exp
    * is not bit-portable across engines, and the 1e−6-quantized
    * linear step is hash-gateable while keeping the paper's
    * monotone-in-excess behavior (documented deviation, not an
    * accident).
    *
    * Shape at 100 TB: one (source, token)-keyed aggregate — the x7
    * vocab pass with the domain key attached — then every LM
    * quantity folds FROM that table (domain totals, corpus counts,
    * corpus total), so the corpus is scanned once; the NLL sums
    * reuse the x12 discipline (per-token −ln p quantized to 1e−4
    * integers, summed as longs — order-independent, cross-engine
    * exact), the normalizer sums 1e−6-quantized weight terms as
    * longs, and the output weights are long/long divisions. */
  def x48DomainReweight(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dt = docs.select(col("source"), explode(tokens).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c_dt"))
      // feeds THREE folds below — unmaterialized, each would re-run
      // the corpus scan + the (source, token) shuffle
      .localCheckpoint(true)
    val dTot = dt.groupBy("source").agg(sum("c_dt").as("n_d"))
    val ct = dt.groupBy("t").agg(sum("c_dt").as("c_t"))
    val nTot = dTot.agg(sum("n_d").as("n"))
    val nllQ = (num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column) =>
      floor(log(num.cast("double") / den.cast("double")) * 10000.0
        + 0.5).cast("long")
    val perDomain = dt
      .join(ct, "t")
      .join(dTot, "source")
      .crossJoin(broadcast(nTot))
      .select(col("source"), col("n_d"),
        (col("c_dt") * nllQ(col("n_d"), col("c_dt"))).as("ref_m"),
        (col("c_dt") * nllQ(col("n"), col("c_t"))).as("proxy_m"))
      .groupBy("source")
      .agg(first("n_d").as("n_d"), sum("ref_m").as("ref_m"),
        sum("proxy_m").as("proxy_m"))
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    // excess per token (micro-NLL longs → double mean), then the
    // 1e−6-quantized weight term; share(d) = n_d/n
    val scored = perDomain.crossJoin(broadcast(nTot))
      .withColumn("excess",
        greatest((col("proxy_m") - col("ref_m")).cast("double")
          / (lit(10000.0) * col("n_d").cast("double")), lit(0.0)))
      .withColumn("term_q",
        floor(col("n_d").cast("double") / col("n").cast("double")
          * (lit(1.0) + col("excess")) * 1e6 + 0.5).cast("long"))
    val termTot = scored.agg(sum("term_q").as("term_tot"))
    scored.crossJoin(broadcast(termTot))
      .join(nDocs, "source")
      .select(col("source"), col("n_docs"), col("n_d").as("n_tokens"),
        Det.r6(col("excess")).as("excess_nll"),
        Det.r6(col("term_q").cast("double")
          / col("term_tot").cast("double")).as("weight"))
  }

  /** X17 — deterministic training shards: the global-shuffle + shard
    * step every pretraining corpus pays between curation and
    * tokenization. Shard assignment derives from the o3/x14
    * multiplicative mix (high bits of the Knuth product,
    * engine-portable int64 arithmetic); within-shard order from its
    * modular sibling (see [[writeShards]]) — reproducible
    * pseudo-randomness with NO RNG state, no sort of the corpus by a
    * random() column, and no driver involvement: assignment is a
    * scan-level projection, so the only
    * shuffle in the whole job is the one keyed exchange that
    * co-locates each shard for writing ([[writeShards]]). The gated
    * result is the per-shard manifest (doc count + token mass — the
    * balance evidence a shard-writer logs); balance follows from the
    * mix behaving uniformly over dense key ranges. */
  def x17TrainingShards(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), nTokens.as("n_tok"),
        (shiftright(col("doc_id") * 2654435761L, 16) % 32).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("bigint").as("sum_tokens"))
  }

  /** The write side of x17: each shard directory (hive-partitioned
    * on `shard`) is written whole by a single task (a task may hold
    * more than one shard under hash collisions — never the reverse),
    * rows inside ordered by
    * a SECOND mix — `(key·2654435761) mod 1000000007` — because the
    * high-bits mix that assigns shards is MONOTONE in the key
    * (multiplication then shift preserves order), fine for
    * assignment residues but a no-op as a shuffle; the modular form
    * wraps every ~2.6 consecutive keys, a genuine portable
    * pseudo-permutation. Returns the shard count written. */
  def writeShards(docs: DataFrame, outDir: String,
      shards: Int = 32): Int = {
    val assign = shiftright(col("doc_id") * 2654435761L, 16)
    val mix = (col("doc_id") * 2654435761L) % 1000000007L
    docs.select(col("doc_id"), col("text"),
        (assign % shards).as("shard"), mix.as("__order"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__order"))
      .drop("__order")
      .write.partitionBy("shard").parquet(outDir)
    shards
  }

  /** X15 — repetition / lexical-diversity profile (the Gopher-style
    * quality filters of Rae et al. 2021 §A1.1: repetitious documents
    * are low-quality signal): type-token ratio (distinct/total
    * tokens) and the duplicate 3-gram fraction (1 − distinct/total
    * windows). Pure per-row expressions — zero shuffle, scan-speed
    * at 100 TB; no sums, so one division per doc is trivially
    * cross-engine deterministic. The distinct counts run on the
    * codegen'd `distinct_ngram_count` kernel (the `array_distinct`
    * HOF form materializes two arrays per row on the interpreted
    * path — TextKernelsSpec pins kernel==HOF equality and the WSCG
    * plan). */
  def x15Repetition(s: SparkSession, dir: String): DataFrame = {
    repetitionProfile(Tables.documents(s, dir))
  }

  /** The x15 projection over any (doc_id, text) frame — shared with
    * the streaming quality gate (caller registers the kernels). */
  private[graft] def repetitionProfile(docs: DataFrame): DataFrame = {
    val nTok = nTokens.cast("double")
    val nGram = greatest(nTokens - 2, lit(0)).cast("double")
    val distinctGrams =
      expr("distinct_ngram_count(text, 3)").cast("double")
    docs.select(
      col("doc_id"),
      nTok.cast("bigint").as("n_tokens"),
      Det.r6(expr("distinct_ngram_count(text, 1)").cast("double") / nTok)
        .as("type_token_ratio"),
      Det.r6(when(nGram > 0.0, lit(1.0) - distinctGrams / nGram)
        .otherwise(0.0)).as("dup_3gram_ratio"))
  }

  private val EmailPat = "[a-z0-9._]+@[a-z0-9.]+[.][a-z]+"
  private val PhonePat = "[0-9]{3}-[0-9]{4}"

  /** X16 — PII redaction: count and mask email addresses and phone
    * numbers before a corpus is used for training — the scrubbing
    * gate every large-scale text pipeline runs between curation (x6)
    * and packing (x8). Pure per-row regexp expressions (Spark's
    * RegExpReplace/RegExpCount are codegen'd), no shuffle: runs at
    * parquet-scan speed at 100 TB, and composes with the streaming
    * curation gates (stateless projection).
    *
    * The synthetic corpus contains no organic contacts, so the query
    * deterministically plants one email + one phone on every 10th
    * doc (x13's planted-corpus precedent) — both engines build the
    * identical text, so the gate checks the actual regex semantics.
    * The patterns stay inside character-class + bounded-quantifier
    * regex, where Java (Spark) and RE2 (DuckDB) agree. */
  def x16PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 0,
        concat(col("text"), lit(" reach user"), col("doc_id"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(col("text")).as("text"))
    planted.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPat)).cast("long")
        .as("n_emails"),
      regexp_count(col("text"), lit(PhonePat)).cast("long")
        .as("n_phones"),
      regexp_replace(
        regexp_replace(col("text"), EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>").as("clean_text"))
  }

  /** X20 — inverted-index build: the term → posting-list
    * materialization under every text-retrieval system (x11 scores
    * one fixed query; this persists the structure that answers ANY
    * query without rescanning the corpus). Two branches off the same
    * (token, doc_id, tf) hash agg:
    *
    *  - `df_docs` — full document frequency per token, a plain count
    *    over postings (one row per token·partition crosses the
    *    shuffle);
    *  - `postings_head` — the first `PostingCap` postings by doc_id,
    *    capped BEFORE any per-token state accumulates via the o4
    *    TopKPerKey operator (bounded heaps, ≤ cap·partitions rows
    *    cross the exchange). The naive collect_list-then-slice holds
    *    a stop-word's ENTIRE posting list in one aggregation buffer —
    *    billions of entries at 100 TB; the heap path is why this
    *    scales. Real systems page postings into fixed blocks; the
    *    head block is representative and keeps the gate exact.
    *
    * Postings serialize as zero-padded `doc_id:tf` strings (sorted
    * lexicographic == sorted numeric), so the result hash-gates
    * cross-engine; the oracle's window-rank SQL is the same rewrite
    * RewriteRankFilterToTopK targets. Rare-token tail (df < 5) is
    * dropped the way a real index drops hapax terms.
    *
    * r9: the (token, doc, tf) aggregate and the df rollup now come
    * from the PERSISTED corpus index ([[LexIndex]] — built once per
    * session, shared with x21 and x47's lexical arm); this query is
    * the index-build VIEW of those artifacts. Values are exact
    * integer counts either way — hash unchanged. */
  def x20InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = LexIndex.tf(s, dir)
    val dfDocs = LexIndex.df(s, dir)
      .select(col("token"), col("df").cast("bigint").as("df_docs"))
      .filter(col("df_docs") >= 5)
    val head = graft.plans.TopK.topKPerKey(tf,
        Seq(col("token")), Seq(col("doc_id").asc), PostingCap)
      .select(col("token"),
        concat(lpad(col("doc_id").cast("string"), 8, "0"),
          lit(":"), col("tf").cast("string")).as("posting"))
      .groupBy("token")
      .agg(array_join(array_sort(collect_list(col("posting"))), " ")
        .as("postings_head"))
    dfDocs.join(head, Seq("token"))
  }

  private val PostingCap = 100

  /** X21 — index-SERVE BM25: the query-time half of x20's build.
    * x11 scores a query by scanning every document (per-doc tf
    * columns over the whole corpus — right when scoring is a one-off
    * batch job); this computes the IDENTICAL ranking the way a
    * retrieval system serves it, from index-shaped structures only:
    *
    *  - posting lists restricted to the query terms — the `isin`
    *    filter runs before the (token, doc) aggregation, so only
    *    query-term postings ever enter a shuffle (at 100 TB: three
    *    posting lists, not the corpus);
    *  - term document frequencies off those postings;
    *  - the forward index (doc_id → length) and corpus stats
    *    (n_docs, avgdl), broadcast where single-row.
    *
    * Candidate docs = union of the query's posting lists (a doc with
    * no query term scores 0 and cannot enter a positive top-k, so
    * skipping it is exact — OperatorSpec asserts bit-equality of the
    * top-20 against x11). r9: the index IS persisted now —
    * [[LexIndex]]'s committed postings/forward-index parquet, shared
    * with x20/x47 — and the `token IN (…)` filter runs against the
    * token-keyed parquet scan (pushed-down point lookup: three
    * posting lists read, never the corpus — the access path this
    * query exists to demonstrate). Same constants,
    * literal-for-literal, as x11 (k1=1.2, b=0.75, pre-folded
    * 2.2/0.25). */
  def x21IndexRetrieval(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("scan", "window", "join")
    val fwd = LexIndex.dl(s, dir).select(col("doc_id"), col("dl"))
    val stats = fwd.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val postings = LexIndex.tf(s, dir)
      .filter(col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"),
        col("tf").cast("double").as("tf"))
    val dfs = postings.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    val termScore =
      log((col("n_docs") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    postings
      .join(broadcast(dfs), "token")
      .join(fwd, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), termScore.as("s"))
      .groupBy("doc_id").agg(sum(col("s")).as("raw"))
      .select(col("doc_id"), Det.r6(col("raw")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  private[graft] val DriftBins = 10

  /** X28 — distribution-drift monitor: Population Stability Index
    * between a reference corpus half (sources src0–src9) and a
    * candidate half (src10+) per numeric feature — the standing gate
    * a production ingest runs on every new crawl batch before it
    * joins the training mix (PSI ≥ 0.2 is the conventional
    * investigate threshold). Features: n_chars and whitespace token
    * count, each in 10 fixed-width bins; proportions are
    * Laplace-smoothed ((n+1)/(N+bins)) so empty bins stay defined.
    *
    * Shape: one scan → per-(feature, bin, shard) hash agg over ≤ 40
    * cells → a broadcast-size grid join; all corpus-size-dependent
    * work is the single agg. Cross-engine determinism is the x12
    * recipe: ln() is the one op whose last ulp differs between
    * engines, so each bin's ln ratio is quantized to 1e-4 and each
    * PSI term to an integer at 1e-10 before the (exact, integer)
    * sum — both engines add identical longs in any order. */
  def x28DistributionDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(
        when(substring(col("source"), 4, 10).cast("int") < 10, "ref")
          .otherwise("cand").as("shard"),
        col("n_chars"),
        nTokens.cast("long").as("n_tok"))
    val feats = docs.select(col("shard"), lit("n_chars").as("feature"),
        least(floor(col("n_chars") / 64.0), lit(DriftBins - 1))
          .cast("long").as("bin"))
      .union(docs.select(col("shard"), lit("n_tokens"),
        least(floor(col("n_tok") / 16.0), lit(DriftBins - 1))
          .cast("long")))
    val counts = feats.groupBy("feature", "bin").agg(
      sum(when(col("shard") === "ref", 1L).otherwise(0L)).as("nr"),
      sum(when(col("shard") === "cand", 1L).otherwise(0L)).as("nc"))
    psiFromCounts(s, counts)
  }

  /** X38 — two-sample Kolmogorov–Smirnov statistic between the same
    * ref/cand shard halves x28 monitors: D = max |F_ref − F_cand|
    * over the doc-length empirical CDFs. Where PSI needs binning and
    * smoothing choices, KS is parameter-free — the natural second
    * opinion in a drift gate. Exactly deterministic WITHOUT
    * quantization: cumulative counts are integers, each CDF value is
    * one integer division, and max is order-independent, so Spark
    * and DuckDB agree bit-for-bit. The single unpartitioned window
    * runs over the DISTINCT length values (bounded — hundreds of
    * rows after the first hash agg), not the corpus. */
  def x38KsTest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(
        when(substring(col("source"), 4, 10).cast("int") < 10, "ref")
          .otherwise("cand").as("shard"),
        col("n_chars"))
    val counts = docs.groupBy("n_chars").agg(
      sum(when(col("shard") === "ref", 1L).otherwise(0L)).as("cr"),
      sum(when(col("shard") === "cand", 1L).otherwise(0L)).as("cc"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("n_chars")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = counts.agg(sum("cr").as("nr"), sum("cc").as("nc"))
    counts
      .withColumn("ar", sum("cr").over(w))
      .withColumn("ac", sum("cc").over(w))
      .crossJoin(broadcast(tot))
      .select(abs(col("ar").cast("double") / col("nr").cast("double")
        - col("ac").cast("double") / col("nc").cast("double")).as("d"),
        col("nr"), col("nc"))
      .agg(max("nr").as("n_ref"), max("nc").as("n_cand"),
        Det.r6(max(col("d"))).as("ks"))
  }

  /** The PSI formula over (feature, bin, nr, nc) counts — shared by
    * the batch x28 query and the streaming per-crawl-batch monitor
    * ([[graft.streaming.DriftStream]]): dense bin grid (Laplace
    * smoothing keeps empty bins defined), ln terms quantized to
    * integers before the sum so the result is order-independent. */
  private[graft] def psiFromCounts(s: SparkSession,
      counts: DataFrame): DataFrame = {
    import s.implicits._
    val grid = Seq("n_chars", "n_tokens")
      .flatMap(f => (0 until DriftBins).map(b => (f, b.toLong)))
      .toDF("feature", "bin")
    val full = broadcast(grid)
      .join(counts, Seq("feature", "bin"), "left")
      .na.fill(0L, Seq("nr", "nc"))
    val tot = full.groupBy("feature")
      .agg(sum("nr").as("tr"), sum("nc").as("tc"))
    full.join(broadcast(tot), "feature")
      .withColumn("pr", (col("nr") + 1).cast("double") /
        (col("tr") + DriftBins).cast("double"))
      .withColumn("pc", (col("nc") + 1).cast("double") /
        (col("tc") + DriftBins).cast("double"))
      .withColumn("lq", floor(log(col("pc") / col("pr")) * 1e4 + 0.5))
      .withColumn("tq",
        floor((col("pc") - col("pr")) * col("lq") * 1e6 + 0.5))
      .groupBy("feature")
      .agg(max("tr").as("n_ref"), max("tc").as("n_cand"),
        Det.r6(sum(col("tq")).cast("double") / 1e10).as("psi"))
  }

  /** The (feature, bin) instance rows x28's histograms count —
    * per-row arithmetic only, so the same expression runs on a
    * micro-batch unchanged. */
  private[graft] def driftBinned(docs: DataFrame): DataFrame = {
    val base = docs.select(col("n_chars"),
      nTokens.cast("long").as("n_tok"))
    base.select(lit("n_chars").as("feature"),
        least(floor(col("n_chars") / 64.0), lit(DriftBins - 1))
          .cast("long").as("bin"))
      .union(base.select(lit("n_tokens"),
        least(floor(col("n_tok") / 16.0), lit(DriftBins - 1))
          .cast("long")))
  }

  /** X30 — DSIR data selection (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): rank raw-corpus
    * documents by how much more likely a TARGET-domain unigram LM
    * makes them than the raw-corpus LM, and keep the top slice — the
    * importance-weighting step a pretraining pipeline runs to tilt a
    * web crawl toward a desired domain (here: target = the English
    * slice, raw = everything).
    *
    * Shape: two hash aggs build the two smoothed (+1 over the shared
    * vocab) unigram tables off ONE token scan; the per-token log
    * ratio joins back by broadcast (the vocab is the working set,
    * corpus-size-independent past saturation — the same argument as
    * j10); the per-doc score is one keyed agg. ln quantizes to 1e-4
    * integers per token before the doc sum (the x12 recipe), so both
    * engines add identical longs and the top-100 cut (score desc,
    * doc_id tiebreak) is deterministic. */
  def x30DsirSelection(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(tokens).as("t"))
    // ONE grouped aggregation carries both LM tables: cs = total
    // instances of t, ct = en-slice instances (0 where the old
    // src⋈tgt left join would fill 0 — same longs by definition).
    // The scalar stats then FOLD off this vocab-sized table instead
    // of re-scanning the corpus: v = its row count (one row per
    // distinct t), ns = Σcs, nt = Σct. The r13 plan audit counted 4
    // corpus text scans here (stats, src, tgt, scoring); this shape
    // is the floor of 2 (counts pass + scoring pass), with the
    // src⋈tgt join gone outright. The persist shares the table
    // between the stats fold and the broadcast join (vocab-sized —
    // the x12/Heaps argument).
    val counts = tok.groupBy("t").agg(
      count(lit(1)).as("cs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      .persist()
    val stats = counts.agg(
      count(lit(1)).cast("double").as("v"),
      sum(col("cs")).cast("double").as("ns"),
      sum(col("ct")).cast("double").as("nt"))
    val lm = counts
      .crossJoin(broadcast(stats))
      .select(col("t"),
        (floor(log((col("ct") + 1).cast("double")
            / (col("nt") + col("v"))) * 1e4 + 0.5)
          - floor(log((col("cs") + 1).cast("double")
            / (col("ns") + col("v"))) * 1e4 + 0.5)).as("lwq"))
    tok.join(broadcast(lm), "t")
      .groupBy("doc_id")
      .agg(sum("lwq").as("sq"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"),
        (col("sq").cast("double") / 1e4).as("dsir_logweight"),
        col("n_tokens"))
      .orderBy(col("dsir_logweight").desc, col("doc_id"))
      .limit(100)
  }

  /** X31 — per-domain document caps (the RefinedWeb/C4
    * domain-balancing step: uncapped, a handful of mega-domains
    * dominate the training mixture). Keep at most `cap` docs per
    * `source`, chosen by a DETERMINISTIC seeded shuffle — priority =
    * the modular multiplicative mix of doc_id (x17's within-shard
    * permutation), doc_id tie-break — so each domain's survivors are
    * an unbiased, reproducible sample rather than "first N by ingest
    * order" (which biases toward the oldest crawl). Runs through the
    * o4 TopKPerKey operator: per-partition bounded heaps mean ≤
    * cap·partitions rows per domain cross the one exchange; a window
    * row_number would shuffle and sort EVERY row, and the hot
    * mega-domains — exactly the rows the cap exists to cut — would
    * pile into single sort buffers. */
  def x31DomainCaps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        ((col("doc_id") * 2654435761L) % 1000000007L).as("prio"))
    graft.plans.TopK.topKPerKey(docs,
      Seq(col("source")),
      Seq(col("prio").asc, col("doc_id").asc), 10)
  }

  /** X40 — CCNet perplexity bucketing (Wenzek et al. 2020 §4.4):
    * split the corpus into head/middle/tail TERCILES of the x12
    * unigram NLL (head = lowest perplexity = cleanest). Thresholds
    * are exact order statistics derived from a VALUE HISTOGRAM of the
    * per-doc NLL, not a corpus sort: the per-doc score is already
    * quantized (x12's 1e−4 integer arithmetic rounded at 1e−6), so
    * the histogram's distinct-value count is bounded by the score
    * grid — a few million rows at ANY corpus size — and the one
    * unpartitioned cumulative window runs over that bounded histogram
    * (the x38/g11 pattern), never the documents. Boundary ties go
    * wholly to the lower bucket (value-based, deterministic — bucket
    * sizes are ⌈n/3⌉ ± ties). Cost: the x12 scan + two hash aggs +
    * a broadcast of two scalars back over the doc scores. The doc
    * count driving ⌈n/3⌉ is one scalar driver action, bounded by
    * construction. */
  def x40PplBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the per-doc scores once: the count action, the
    // threshold histogram, and the final bucketing each reference
    // this frame, and an unmaterialized plan would replay the full
    // x12 corpus scan + vocabulary join three times (the d6/x34
    // checkpoint pattern; integer-quantized scores ⇒ bit-identical)
    val nll = x12UnigramNll(s, dir).localCheckpoint(true)
    val n = nll.count()
    val (k1, k2) = ((n + 2) / 3, (2 * n + 2) / 3)
    val hist = nll.groupBy("nll_per_token").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum("c").over(Window
      .orderBy("nll_per_token")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val th = cum.agg(
      min(when(col("cum") >= k1, col("nll_per_token"))).as("t1"),
      min(when(col("cum") >= k2, col("nll_per_token"))).as("t2"))
    nll.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("nll_per_token") <= col("t1"), "head")
          .when(col("nll_per_token") <= col("t2"), "middle")
          .otherwise("tail"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min("nll_per_token").as("min_nll"),
        max("nll_per_token").as("max_nll"))
  }

  /** X41 — n-gram novelty scoring: the fraction of a document's
    * DISTINCT 3-grams that appear nowhere else in the corpus (df = 1
    * counts same-doc repeats once — the x13/per-doc-set semantics).
    * Low novelty ⇒ the doc is assembled from corpus-common phrasing
    * (template/boilerplate mass the d-series pair graphs only catch
    * when whole docs align); high novelty ⇒ unique content worth
    * keeping. Shape: per-doc-distinct grams stream out of the native
    * `ngrams_distinct` UDTF (row-local dedup, no corpus-wide
    * distinct); a gram with df = 1 has exactly ONE owner, so
    * min(doc_id) inside the per-gram agg NAMES it and the novel
    * count folds off that agg directly — the gram-keyed join back to
    * the exploded frame (corpus-scale SMJ once the df table outgrows
    * broadcast) is gone; the only join left is two doc-count-sized
    * per-doc tables. Aggregation-only reuse of the d2 shingle
    * backbone with no pair expansion anywhere, so skewed grams cost
    * a fat aggregation cell, never a quadratic blow-up. Docs under
    * 3 tokens have no grams and drop out on both sides. */
  def x41NoveltyScore(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), expr("ngrams_distinct(text, 3)"))
      .select("doc_id", "ngram")
    val novel = grams.groupBy("ngram")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("only_doc"))
      .filter(col("df") === 1)
      .groupBy(col("only_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        Det.r6(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  /** X42 — the dataset card (Gebru et al. 2021 "Datasheets for
    * Datasets"; the corpus-statistics table every training-data
    * release publishes — C4/Pile/RefinedWeb papers each open with
    * one): a single report query emitting (metric, value) rows —
    * document/source/language counts, whitespace-token and char
    * mass, exact-duplicate fraction (d1's md5 identity), language
    * concentration, and exact length order statistics.
    *
    * Determinism: every value is either an exact integer count or an
    * integer ratio quantized r4; the median/p95 are K-TH SMALLEST
    * order statistics (k = ⌈n/2⌉, ⌈0.95n⌉ in integer arithmetic),
    * computed from a VALUE HISTOGRAM of doc lengths — the g11/x40
    * pattern: the histogram's bounded distinct-length grid is
    * collected once and walked driver-side for both statistics,
    * never a corpus sort. Scale shape: ONE cached scan-level per-doc
    * projection feeding three hash aggs (global, per-lang,
    * per-length) + a driver-side assembly of ~10 literal rows —
    * bounded by construction; the cache releases before return. */
  def x42DatasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one scan materializes the per-doc projection; the three aggs
    // below share it instead of re-reading the corpus per action
    val perDoc = Tables.documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"),
        col("n_chars"), col("lang"), col("source"),
        md5(col("text").cast("binary")).as("h"))
      .cache()
    val b = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("tok"),
      sum(col("n_chars")).as("chars"),
      countDistinct(col("h")).as("n_distinct"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources")).head()
    val n = b.getLong(0)
    val topLang = perDoc.groupBy("lang")
      .agg(count(lit(1)).as("c")).agg(max(col("c"))).head().getLong(0)
    // exact order statistics off the bounded length VALUE HISTOGRAM,
    // collected once (distinct doc lengths — a small grid by
    // construction) and walked driver-side for both k-th statistics
    val kMed = (n + 1) / 2
    val k95 = (19 * n + 19) / 20 // = ceil(0.95 n), integer-exact
    val hist = perDoc.groupBy("n_tok").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    def kth(k: Long): Long = {
      var cum = 0L
      hist.find { case (_, c) => cum += c; cum >= k }.get._1
    }
    // Det.r's exact formula, driver-side: floor(x·10⁴ + 0.5)/10⁴ —
    // same doubles as the oracle's Det.sql fragment
    val r4 = (x: Double) => math.floor(x * 10000.0 + 0.5) / 10000.0
    val med = kth(kMed)
    val p95 = kth(k95)
    perDoc.unpersist() // query-local cache; all actions are done
    Seq(
      ("n_docs", n.toDouble),
      ("total_ws_tokens", b.getLong(1).toDouble),
      ("total_chars", b.getLong(2).toDouble),
      ("exact_dup_fraction", r4((n - b.getLong(3)).toDouble / n)),
      ("n_langs", b.getLong(4).toDouble),
      ("n_sources", b.getLong(5).toDouble),
      ("top_lang_share", r4(topLang.toDouble / n)),
      ("mean_tokens_per_doc", r4(b.getLong(1).toDouble / n)),
      ("median_tokens", med.toDouble),
      ("p95_tokens", p95.toDouble))
      .toDF("metric", "value")
  }

  /** X43 — curation under a token BUDGET: keep the highest-quality
    * documents whose cumulative token mass fits floor(total/2),
    * quality ties broken by doc_id — the "filter-to-budget" step of a
    * training run that targets a fixed token count rather than a
    * fixed quality threshold.
    *
    * The textbook plan is a global sort by quality plus a running-sum
    * window — an all-data range shuffle whose running chain serializes
    * on one task. This one exploits that [[qualityScore]] is r4-
    * rounded, so it has ≤ 10,001 distinct values:
    *  1. fold the corpus into a per-quality-bucket token-mass
    *     histogram — ONE map-side-combined agg over int keys;
    *  2. resolve the threshold bucket and the leftover budget on the
    *     driver (a fold over ≤ 10k rows);
    *  3. keep buckets strictly above the threshold with a pure
    *     scan-level filter (zero shuffle), and window-rank ONLY the
    *     boundary bucket (~1/10k of the corpus) to spend the leftover
    *     budget in doc_id order — the one single-partition window
    *     runs over that sliver, never the corpus.
    * The two branches each rescan `documents` (the bucket is a
    * computed column, so nothing prunes) — at 100 TB two parquet
    * scans still beat range-shuffling the full corpus into a sort.
    * A continuous score would use the same shape with
    * width_bucket-style quantization at ε budget error; the exact
    * variant here is possible because the score itself is already
    * quantized. */
  def x43BudgetCuration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir).select(
      col("doc_id"),
      nTokens.cast("bigint").as("n_tokens"),
      qualityScore.as("quality_score"))
      // r4 values are exact multiples of 1e-4 up to one ulp, so
      // round(q·10⁴) recovers the integer bucket exactly and bucket
      // order == quality order
      .withColumn("bucket",
        round(col("quality_score") * 10000).cast("int"))
    val hist = scored.groupBy("bucket")
      .agg(sum("n_tokens").as("mass")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(-_._1)
    val budget = hist.map(_._2).sum / 2
    // descending fold: buckets above `boundary` fit whole; `boundary`
    // itself is the first that would overflow and gets the leftover
    var above = 0L
    var boundary = Int.MinValue
    for ((b, m) <- hist if boundary == Int.MinValue)
      if (above + m <= budget) above += m else boundary = b
    val kept =
      if (boundary == Int.MinValue) scored // budget covers everything
      else {
        val edge = scored.filter(col("bucket") === boundary)
          .withColumn("run",
            sum("n_tokens").over(Window.orderBy(col("doc_id"))))
          .filter(col("run") <= budget - above).drop("run")
        scored.filter(col("bucket") > boundary).unionByName(edge)
      }
    kept.drop("bucket")
  }

  /** X45 — fuzzy benchmark decontamination (x13's shared-gram count
    * graduated to the GPT-3/PaLM appendix method): for every corpus
    * doc sharing ANY distinct 4-gram with a benchmark doc, its
    * worst-case benchmark CONTAINMENT — shared / |bench doc's
    * distinct grams| — plus the ≥ 0.5 contamination flag.
    * Containment, not Jaccard, is the right asymmetry: a long
    * training doc embedding a short eval item scores 1.0 containment
    * but near-0 Jaccard and would slip a symmetric gate. Plan shape:
    * the benchmark side is the EVAL SUITE — bounded and tiny next to
    * a 100-TB corpus — so its gram set broadcasts; the corpus
    * explodes once through the scan-level `ngrams_distinct`
    * generator, per-(doc, bench) counts are one hash agg, and the
    * worst match per doc is a k=1 TopKPerKey heap, never a window
    * sort. Join fan-out per gram is bounded by the benchmark's size,
    * not the corpus's. */
  def x45FuzzyDecontamination(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), expr("ngrams_distinct(text, 4)"))
        .select("doc_id", "ngram")
    val docs = Tables.documents(s, dir)
    // the bench-set gram frame feeds two consumers (the containment
    // join's broadcast and bSizes); it is broadcast-bounded by the
    // same assumption that lets it broadcast, so persist it and run
    // the bench-slice text scan + gram derivation once, not twice
    val bench = grams(docs.filter(col("doc_id") % 50 === 0))
      .withColumnRenamed("doc_id", "bench_id")
      .persist()
    val bSizes = bench.groupBy("bench_id").agg(count(lit(1)).as("n_b"))
    val pairs = grams(docs.filter(col("doc_id") % 50 =!= 0))
      .join(broadcast(bench), "ngram")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
      .join(broadcast(bSizes), "bench_id")
      .withColumn("containment",
        col("shared") / col("n_b").cast("double"))
    graft.plans.TopK.topKPerKey(pairs, Seq(col("doc_id")),
        Seq(col("containment").desc, col("bench_id").asc), 1)
      .select(col("doc_id"), col("bench_id"),
        Det.r4(col("containment")).as("containment"),
        (col("containment") >= 0.5).as("contaminated"))
  }

  /** X46 — corpus release notes: the doc-level DIFF between two
    * corpus versions rolled up to what a dataset changelog reports —
    * per change kind (added / removed / changed) the doc count and
    * the TOKEN-MASS delta the change moves. Identity is the doc key;
    * change detection is an md5 content compare, so a one-token edit
    * counts as `changed` with its exact token delta, not as a
    * remove+add. Plan: one co-partitioned full-outer join on the key
    * (both sides carry only (key, token count, content hash) — the
    * text never crosses the exchange) and a 3-row agg; at 100 TB the
    * diff costs one keyed shuffle of hashes. Fixture: v1 drops the
    * doc_id%7=5 slice, adds the %7=3 slice (absent from v0), and
    * appends one token to every %7=1 doc. */
  def x46CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v0 = docs.filter(col("doc_id") % 7 =!= 3).select(col("doc_id"),
      nTokens.cast("long").as("t0"), md5(col("text")).as("h0"))
    val v1 = docs.filter(col("doc_id") % 7 =!= 5)
      .withColumn("text", when(col("doc_id") % 7 === 1,
        concat(col("text"), lit(" v2a"))).otherwise(col("text")))
      .select(col("doc_id"),
        nTokens.cast("long").as("t1"), md5(col("text")).as("h1"))
    v0.join(v1, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("h0").isNull, "added")
          .when(col("h1").isNull, "removed")
          .when(col("h0") =!= col("h1"), "changed"))
      .filter(col("change").isNotNull)
      .groupBy("change")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("t1"), lit(0L)) - coalesce(col("t0"), lit(0L)))
          .cast("bigint").as("token_delta"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x46_corpus_diff" -> x46CorpusDiff,
    "x45_fuzzy_decontamination" -> x45FuzzyDecontamination,
    "x43_budget_curation" -> x43BudgetCuration,
    "x42_dataset_card" -> x42DatasetCard,
    "x41_novelty_score" -> x41NoveltyScore,
    "x40_ppl_buckets" -> x40PplBuckets,
    "x31_domain_caps" -> x31DomainCaps,
    "x33_bigram_nll" -> x33BigramNll,
    "x37_temperature_mixture" -> x37TemperatureMixture,
    "x48_domain_reweight" -> x48DomainReweight,
    "x38_ks_test" -> x38KsTest,
    "x30_dsir_selection" -> x30DsirSelection,
    "x28_distribution_drift" -> x28DistributionDrift,
    "x20_inverted_index" -> x20InvertedIndex,
    "x21_index_retrieval" -> x21IndexRetrieval,
    "x16_pii_redaction" -> x16PiiRedaction,
    "x12_unigram_nll" -> x12UnigramNll,
    "x13_contamination" -> x13Contamination,
    "x14_mixture_sample" -> x14MixtureSample,
    "x15_repetition" -> x15Repetition,
    "x17_training_shards" -> x17TrainingShards,
    "x1_text_tokens" -> x1TextTokens,
    "x2_text_quality" -> x2TextQuality,
    "x3_text_langid" -> x3TextLangid,
    "x4_text_fingerprint" -> x4TextFingerprint,
    "x6_corpus_curation" -> x6CorpusCuration,
    "x7_token_vocab" -> x7TokenVocab,
    "x9_heavy_hitters" -> x9HeavyHitters,
    "x9b_heavy_hitters_gate" -> x9bHeavyHittersGate,
    "x10_ngrams" -> x10Ngrams,
    "x11_bm25" -> x11Bm25)

  val oracle: Map[String, String] = Map(
    // the linearized DoReMi step replayed fold-for-fold: same 1e−4
    // NLL quantization, same 1e−6 weight terms, same long divisions
    "x48_domain_reweight" ->
      """WITH dt AS (
           SELECT source, token, cast(count(*) AS bigint) AS c_dt
           FROM (SELECT source, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY 1, 2),
         dtot AS (SELECT source, cast(sum(c_dt) AS bigint) AS n_d
                  FROM dt GROUP BY 1),
         ctok AS (SELECT token, cast(sum(c_dt) AS bigint) AS c_t
                  FROM dt GROUP BY 1),
         ntot AS (SELECT cast(sum(n_d) AS bigint) AS n FROM dtot),
         perdom AS (
           SELECT dt.source, any_value(dtot.n_d) AS n_d,
             cast(sum(c_dt * cast(floor(ln(cast(dtot.n_d AS double)
               / cast(c_dt AS double)) * 10000.0 + 0.5) AS bigint))
               AS bigint) AS ref_m,
             cast(sum(c_dt * cast(floor(ln(cast(ntot.n AS double)
               / cast(ctok.c_t AS double)) * 10000.0 + 0.5) AS bigint))
               AS bigint) AS proxy_m
           FROM dt
           JOIN ctok ON ctok.token = dt.token
           JOIN dtot ON dtot.source = dt.source
           CROSS JOIN ntot
           GROUP BY 1),
         ndocs AS (SELECT source, cast(count(*) AS bigint) AS n_docs
                   FROM documents GROUP BY 1),
         scored AS (
           SELECT source, n_d, ref_m, proxy_m,
             greatest(cast(proxy_m - ref_m AS double)
               / (10000.0 * cast(n_d AS double)), 0.0) AS excess
           FROM perdom),
         terms AS (
           SELECT source, n_d, excess,
             cast(floor(cast(n_d AS double) / cast(ntot.n AS double)
               * (1.0 + excess) * 1000000.0 + 0.5) AS bigint) AS term_q
           FROM scored CROSS JOIN ntot),
         termtot AS (SELECT cast(sum(term_q) AS bigint) AS term_tot
                     FROM terms)
         SELECT t.source, nd.n_docs, t.n_d AS n_tokens,
           floor(t.excess * 1000000.0 + 0.5) / 1000000.0 AS excess_nll,
           floor(cast(t.term_q AS double) / cast(tt.term_tot AS double)
             * 1000000.0 + 0.5) / 1000000.0 AS weight
         FROM terms t CROSS JOIN termtot tt
         JOIN ndocs nd ON nd.source = t.source""",
    // distinct ≤ 31 keys < k=64 ⇒ the Misra–Gries summary is exact
    // and equals the plain GROUP BY (see x9bHeavyHittersGate)
    "x9b_heavy_hitters_gate" ->
      """SELECT cast(least(length(token), 30) AS varchar) AS len_key,
           cast(count(*) AS bigint) AS count_lb
         FROM (SELECT unnest(string_split(text, ' ')) AS token
               FROM documents)
         GROUP BY 1 ORDER BY count_lb DESC, len_key LIMIT 20""",
    // the oracle uses the textbook plan (global quality sort +
    // running-sum window) — the histogram-threshold engine plan must
    // reproduce its kept set exactly, boundary tie-breaks included
    "x43_budget_curation" -> {
      val n = "cast(len(string_split(text, ' ')) AS double)"
      val stopRatio = s"(cast(len(list_filter(string_split(text, ' '), " +
        s"t -> t IN ${inList(stopEn)})) AS double) / $n)"
      val q = Det.sql(s"least($n / 200.0, 1.0) * 0.5 " +
        s"+ least($stopRatio * 4.0, 1.0) * 0.5", 4)
      s"""WITH scored AS (
           SELECT doc_id, cast($n AS bigint) AS n_tokens,
             $q AS quality_score
           FROM documents),
         ranked AS (
           SELECT doc_id, n_tokens, quality_score,
             sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id)
               AS run
           FROM scored),
         tot AS (SELECT sum(n_tokens) // 2 AS budget FROM scored)
         SELECT doc_id, n_tokens, quality_score
         FROM ranked, tot WHERE run <= budget"""
    },
    "x42_dataset_card" ->
      s"""WITH d AS (
           SELECT len(string_split(text, ' ')) AS n_tok, n_chars,
             lang, source, md5(text) AS h
           FROM documents),
         b AS (SELECT count(*) AS n, sum(n_tok) AS tok,
                 sum(n_chars) AS chars, count(DISTINCT h) AS nd,
                 count(DISTINCT lang) AS nl,
                 count(DISTINCT source) AS ns FROM d),
         tl AS (SELECT max(c) AS top FROM
                 (SELECT count(*) AS c FROM d GROUP BY lang)),
         r AS (SELECT n_tok,
                 row_number() OVER (ORDER BY n_tok) AS rk FROM d),
         med AS (SELECT min(n_tok) AS v FROM r, b
                 WHERE rk >= (n + 1) // 2),
         p95 AS (SELECT min(n_tok) AS v FROM r, b
                 WHERE rk >= (19 * n + 19) // 20)
         SELECT 'n_docs' AS metric, cast(n AS double) AS value FROM b
         UNION ALL SELECT 'total_ws_tokens', cast(tok AS double) FROM b
         UNION ALL SELECT 'total_chars', cast(chars AS double) FROM b
         UNION ALL SELECT 'exact_dup_fraction',
           ${Det.sql("(n - nd) / n", 4)} FROM b
         UNION ALL SELECT 'n_langs', cast(nl AS double) FROM b
         UNION ALL SELECT 'n_sources', cast(ns AS double) FROM b
         UNION ALL SELECT 'top_lang_share',
           ${Det.sql("top / n", 4)} FROM tl, b
         UNION ALL SELECT 'mean_tokens_per_doc',
           ${Det.sql("tok / n", 4)} FROM b
         UNION ALL SELECT 'median_tokens', cast(v AS double) FROM med
         UNION ALL SELECT 'p95_tokens', cast(v AS double) FROM p95""",
    "x41_novelty_score" ->
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s
                      FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(s) - 1, 1)),
                 i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])))
                 AS ngram
               FROM sp),
         f AS (SELECT ngram, count(*) AS df FROM g GROUP BY 1)
         SELECT doc_id,
           cast(count(*) AS bigint) AS n_grams,
           cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS bigint)
             AS n_novel,
           ${Det.sql(
        """cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double)""", 6)} AS novelty
         FROM g JOIN f USING (ngram) GROUP BY 1""",
    "x40_ppl_buckets" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents),
         v AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT cast(sum(c) AS double) AS n FROM v),
         q AS (SELECT doc_id,
                 floor(ln(n / cast(c AS double)) * 10000.0 + 0.5) AS q
               FROM tok JOIN v USING (t) CROSS JOIN tot),
         t AS (SELECT doc_id,
                 ${Det.sql("sum(q) / (10000.0 * count(*))", 6)} AS nll,
                 cast(count(*) AS bigint) AS n_tokens
               FROM q GROUP BY 1),
         h AS (SELECT nll, count(*) AS c FROM t GROUP BY 1),
         cum AS (SELECT nll, sum(c) OVER (ORDER BY nll
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum FROM h),
         nn AS (SELECT count(*) AS n FROM t),
         th AS (SELECT
                  min(CASE WHEN cum >= (n + 2) // 3 THEN nll END) AS t1,
                  min(CASE WHEN cum >= (2*n + 2) // 3 THEN nll END) AS t2
                FROM cum CROSS JOIN nn)
         SELECT CASE WHEN nll <= t1 THEN 'head'
                     WHEN nll <= t2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS sum_tokens,
           min(nll) AS min_nll, max(nll) AS max_nll
         FROM t CROSS JOIN th GROUP BY 1""",
    "x38_ks_test" ->
      ("""WITH d AS (SELECT
             CASE WHEN cast(substring(source, 4, 10) AS int) < 10
               THEN 'ref' ELSE 'cand' END AS shard, n_chars
           FROM documents),
         c AS (SELECT n_chars,
             sum(CASE WHEN shard = 'ref' THEN 1 ELSE 0 END) AS cr,
             sum(CASE WHEN shard = 'cand' THEN 1 ELSE 0 END) AS cc
           FROM d GROUP BY 1),
         cum AS (SELECT n_chars,
             sum(cr) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ar,
             sum(cc) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ac
           FROM c),
         tot AS (SELECT cast(sum(cr) AS bigint) AS nr,
             cast(sum(cc) AS bigint) AS nc FROM c)
         SELECT max(nr) AS n_ref, max(nc) AS n_cand,
           """ + Det.sql(
        """max(abs(cast(ar AS double) / cast(nr AS double)
             - cast(ac AS double) / cast(nc AS double)))""", 6) +
        """ AS ks
         FROM cum CROSS JOIN tot"""),
    "x31_domain_caps" ->
      """SELECT source, doc_id, prio FROM
         (SELECT source, doc_id,
            (doc_id * 2654435761) % 1000000007 AS prio,
            row_number() OVER (PARTITION BY source
              ORDER BY (doc_id * 2654435761) % 1000000007, doc_id)
              AS rn
          FROM documents)
         WHERE rn <= 10""",
    "x30_dsir_selection" ->
      """WITH tok AS (
           SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS t
           FROM documents),
         stats AS (
           SELECT cast(count(DISTINCT t) AS double) AS v,
             cast(count(*) AS double) AS ns,
             cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS double) AS nt
           FROM tok),
         src AS (SELECT t, count(*) AS cs FROM tok GROUP BY 1),
         tgt AS (SELECT t, count(*) AS ct FROM tok
                 WHERE lang = 'en' GROUP BY 1),
         lm AS (
           SELECT src.t,
             cast(floor(ln(cast(coalesce(ct, 0) + 1 AS double)
                 / (nt + v)) * 10000.0 + 0.5) AS bigint)
             - cast(floor(ln(cast(cs + 1 AS double)
                 / (ns + v)) * 10000.0 + 0.5) AS bigint) AS lwq
           FROM src LEFT JOIN tgt ON src.t = tgt.t CROSS JOIN stats)
         SELECT doc_id,
           cast(sum(lwq) AS double) / 10000.0 AS dsir_logweight,
           cast(count(*) AS bigint) AS n_tokens
         FROM tok JOIN lm ON tok.t = lm.t
         GROUP BY 1
         ORDER BY dsir_logweight DESC, doc_id
         LIMIT 100""",
    "x28_distribution_drift" ->
      s"""WITH d AS (
           SELECT CASE WHEN cast(substr(source, 4) AS int) < 10
                  THEN 'ref' ELSE 'cand' END AS shard,
             n_chars, len(string_split(text, ' ')) AS n_tok
           FROM documents),
         f AS (
           SELECT shard, 'n_chars' AS feature,
             least(cast(floor(n_chars / 64.0) AS bigint), 9) AS bin
           FROM d
           UNION ALL
           SELECT shard, 'n_tokens',
             least(cast(floor(n_tok / 16.0) AS bigint), 9) FROM d),
         grid AS (
           SELECT feature, i AS bin
           FROM (SELECT 'n_chars' AS feature
                 UNION ALL SELECT 'n_tokens'),
             unnest(range(0, $DriftBins)) AS g(i)),
         c AS (
           SELECT g.feature, g.bin,
             sum(CASE WHEN shard = 'ref' THEN 1 ELSE 0 END) AS nr,
             sum(CASE WHEN shard = 'cand' THEN 1 ELSE 0 END) AS nc
           FROM grid g LEFT JOIN f
             ON f.feature = g.feature AND f.bin = g.bin
           GROUP BY 1, 2),
         t AS (SELECT feature, cast(sum(nr) AS bigint) AS tr,
                 cast(sum(nc) AS bigint) AS tc FROM c GROUP BY 1),
         terms AS (
           SELECT c.feature, t.tr, t.tc,
             cast(c.nr + 1 AS double)
               / cast(t.tr + $DriftBins AS double) AS pr,
             cast(c.nc + 1 AS double)
               / cast(t.tc + $DriftBins AS double) AS pc
           FROM c JOIN t ON c.feature = t.feature),
         q AS (
           SELECT feature, tr, tc,
             cast(floor((pc - pr)
               * floor(ln(pc / pr) * 10000.0 + 0.5)
               * 1000000.0 + 0.5) AS bigint) AS tq
           FROM terms)
         SELECT feature, max(tr) AS n_ref, max(tc) AS n_cand,
           ${Det.sql("cast(sum(tq) AS double) / 10000000000.0", 6)}
             AS psi
         FROM q GROUP BY 1""",
    "x21_index_retrieval" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         fwd AS (SELECT doc_id, cast(count(*) AS double) AS dl
                 FROM tok GROUP BY 1),
         stats AS (SELECT cast(count(*) AS double) AS n_docs,
                          avg(dl) AS avgdl FROM fwd),
         p AS (SELECT token, doc_id, cast(count(*) AS double) AS tf
               FROM tok WHERE token IN ('scan', 'window', 'join')
               GROUP BY 1, 2),
         dfs AS (SELECT token, cast(count(*) AS double) AS df
                 FROM p GROUP BY 1),
         scored AS (
           SELECT p.doc_id,
             sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS raw
           FROM p JOIN dfs USING (token) JOIN fwd USING (doc_id)
           CROSS JOIN stats
           GROUP BY 1)
         SELECT doc_id, ${Det.sql("raw", 6)} AS bm25
         FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "x20_inverted_index" ->
      s"""WITH tf AS (
           SELECT token, doc_id, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY 1, 2),
         df AS (
           SELECT token, cast(count(*) AS bigint) AS df_docs
           FROM tf GROUP BY 1 HAVING count(*) >= 5),
         head AS (
           SELECT token,
             array_to_string(list_sort(list(posting)), ' ')
               AS postings_head
           FROM (SELECT token,
                   lpad(cast(doc_id AS varchar), 8, '0') || ':'
                     || cast(tf AS varchar) AS posting,
                   row_number() OVER (PARTITION BY token
                     ORDER BY doc_id) AS rn
                 FROM tf)
           WHERE rn <= $PostingCap
           GROUP BY 1)
         SELECT token, df_docs, postings_head
         FROM df JOIN head USING (token)""",
    "x17_training_shards" ->
      """SELECT (doc_id * 2654435761 >> 16) % 32 AS shard,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(len(string_split(text, ' '))) AS bigint)
             AS sum_tokens
         FROM documents GROUP BY 1""",
    "x16_pii_redaction" ->
      s"""WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
               THEN text || ' reach user' || doc_id::varchar
                    || '@example.com or 555-'
                    || lpad((doc_id % 10000)::varchar, 4, '0')
               ELSE text END AS text
           FROM documents)
         SELECT doc_id,
           cast(len(regexp_extract_all(text, '$EmailPat')) AS bigint)
             AS n_emails,
           cast(len(regexp_extract_all(text, '$PhonePat')) AS bigint)
             AS n_phones,
           regexp_replace(regexp_replace(text,
             '$EmailPat', '<EMAIL>', 'g'),
             '$PhonePat', '<PHONE>', 'g') AS clean_text
         FROM planted""",
    "x14_mixture_sample" -> {
      val cases = mixturePct.map { case (l, p) =>
        s"WHEN lang = '$l' THEN $p"
      }.mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         WHERE ((doc_id * 2654435761) >> 16) % 100 <
           CASE $cases ELSE 5 END"""
    },
    "x15_repetition" -> {
      val sp = "string_split(text, ' ')"
      val grams = s"list_distinct(list_transform(" +
        s"range(1, greatest(len($sp) - 1, 1)), " +
        s"i -> $sp[i] || ' ' || $sp[i+1] || ' ' || $sp[i+2]))"
      s"""SELECT doc_id,
         cast(len($sp) AS bigint) AS n_tokens,
         ${Det.sql(
          s"cast(len(list_distinct($sp)) AS double)" +
            s" / cast(len($sp) AS double)", 6)} AS type_token_ratio,
         ${Det.sql(
          s"""CASE WHEN greatest(len($sp) - 2, 0) > 0
              THEN 1.0 - cast(len($grams) AS double)
                   / cast(greatest(len($sp) - 2, 0) AS double)
              ELSE 0.0 END""", 6)} AS dup_3gram_ratio
         FROM documents"""
    },
    "x37_temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n_l,
               cast(floor(sqrt(cast(count(*) AS double)) * 1e6)
                 AS bigint) AS w_q
             FROM documents GROUP BY 1),
         tot AS (SELECT cast(sum(n_l) AS bigint) AS n_tot,
                   cast(sum(w_q) AS bigint) AS w_tot FROM c),
         f AS (SELECT lang,
                 least(100000,
                   cast(floor((cast(n_tot AS double) / 2.0)
                     * cast(w_q AS double)
                     / (cast(w_tot AS double) * cast(n_l AS double))
                     * 100000.0) AS bigint)) AS thresh
               FROM c CROSS JOIN tot)
         SELECT doc_id, lang
         FROM documents JOIN f USING (lang)
         WHERE ((doc_id * 2654435761) >> 16) % 100000 < thresh""",
    "x33_bigram_nll" ->
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s
                      FROM documents),
         bg AS (SELECT doc_id,
                  unnest(list_transform(
                    range(1, greatest(len(s), 1)), i -> s[i])) AS p,
                  unnest(list_transform(
                    range(1, greatest(len(s), 1)), i -> s[i+1])) AS t
                FROM sp),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
         bc AS (SELECT p, t, count(*) AS cpt FROM bg GROUP BY 1, 2),
         pc AS (SELECT p, count(*) AS cp FROM bg GROUP BY 1),
         v AS (SELECT t, count(*) AS ct FROM tok GROUP BY 1),
         tot AS (SELECT cast(sum(ct) AS double) AS n FROM v),
         q AS (SELECT doc_id,
                 floor(-ln(0.8 * (cast(cpt AS double)
                     / cast(cp AS double))
                   + 0.2 * (cast(ct AS double) / n)) * 10000.0 + 0.5)
                   AS q
               FROM bg JOIN bc USING (p, t) JOIN pc USING (p)
                 JOIN v USING (t) CROSS JOIN tot)
         SELECT doc_id,
           ${Det.sql("sum(q) / (10000.0 * count(*))", 6)}
             AS nll_per_bigram,
           cast(count(*) AS bigint) AS n_bigrams
         FROM q GROUP BY 1""",
    "x12_unigram_nll" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents),
         v AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT cast(sum(c) AS double) AS n FROM v),
         q AS (SELECT doc_id,
                 floor(ln(n / cast(c AS double)) * 10000.0 + 0.5) AS q
               FROM tok JOIN v USING (t) CROSS JOIN tot)
         SELECT doc_id,
           ${Det.sql("sum(q) / (10000.0 * count(*))", 6)} AS nll_per_token,
           cast(count(*) AS bigint) AS n_tokens
         FROM q GROUP BY 1""",
    // the diff rollup has a closed form: added = the %7=3 slice's
    // token mass, removed = minus the %7=5 slice's, changed = +1
    // token per %7=1 doc — one wrong fate or delta breaks the hash
    "x46_corpus_diff" ->
      """WITH d AS (SELECT doc_id,
             cast(len(string_split(text, ' ')) AS bigint) AS t
           FROM documents)
         SELECT 'added' AS change, cast(count(*) AS bigint) AS n_docs,
           cast(sum(t) AS bigint) AS token_delta
         FROM d WHERE doc_id % 7 = 3
         UNION ALL
         SELECT 'removed', cast(count(*) AS bigint),
           cast(-sum(t) AS bigint)
         FROM d WHERE doc_id % 7 = 5
         UNION ALL
         SELECT 'changed', cast(count(*) AS bigint),
           cast(count(*) AS bigint)
         FROM d WHERE doc_id % 7 = 1""",
    // worst benchmark match per corpus doc, deterministic argmax
    // (containment desc, bench_id asc); the raw double ranks before
    // r4 rounds the emitted value — both engines divide the same
    // exact integers, so the order is ULP-identical
    "x45_fuzzy_decontamination" ->
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s
                     FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(s) - 2, 1)),
                 i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                      || ' ' || s[i+3]))) AS gram
               FROM sp),
         bench AS (SELECT doc_id AS bench_id, gram FROM g
                   WHERE doc_id % 50 = 0),
         bsz AS (SELECT bench_id, count(*) AS n_b FROM bench GROUP BY 1),
         pairs AS (SELECT c.doc_id, b.bench_id, count(*) AS shared
                   FROM g c JOIN bench b USING (gram)
                   WHERE c.doc_id % 50 <> 0
                   GROUP BY 1, 2),
         sc AS (SELECT p.doc_id, p.bench_id,
                  shared / cast(n_b AS double) AS containment,
                  row_number() OVER (PARTITION BY p.doc_id
                    ORDER BY shared / cast(n_b AS double) DESC,
                             p.bench_id) AS rn
                FROM pairs p JOIN bsz USING (bench_id))
         SELECT doc_id, bench_id,
           ${Det.sql("containment", 4)} AS containment,
           containment >= 0.5 AS contaminated
         FROM sc WHERE rn = 1""",
    "x13_contamination" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s
                     FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(s) - 2, 1)),
                 i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                      || ' ' || s[i+3]))) AS gram
               FROM sp),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
         SELECT doc_id, cast(count(*) AS bigint) AS n_shared_4grams
         FROM g JOIN bench USING (gram)
         WHERE doc_id % 50 <> 0
         GROUP BY 1""",
    "x1_text_tokens" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_word_tokens
         FROM documents""",
    "x2_text_quality" -> {
      val n = "cast(len(string_split(text, ' ')) AS double)"
      val stopRatio = s"(cast(len(list_filter(string_split(text, ' '), " +
        s"t -> t IN ${inList(stopEn)})) AS double) / $n)"
      s"""SELECT doc_id,
         cast(length(text) AS bigint) AS n_chars_calc,
         cast($n AS bigint) AS n_tokens,
         ${Det.sql(s"(cast(length(text) AS double) - $n + 1.0) / $n", 4)}
           AS avg_token_len,
         ${Det.sql(stopRatio, 4)} AS stopword_ratio,
         ${Det.sql(s"least($n / 200.0, 1.0) * 0.5 " +
          s"+ least($stopRatio * 4.0, 1.0) * 0.5", 4)} AS quality_score
         FROM documents"""
    },
    "x3_text_langid" -> {
      def cnt(vs: Seq[String]) =
        s"len(list_filter(string_split(text, ' '), t -> t IN ${inList(vs)}))"
      val (en, de, es, fr) = (cnt(stopEn), cnt(stopDe), cnt(stopEs),
        cnt(stopFr))
      s"""WITH scored AS (
           SELECT doc_id, lang, $en AS en, $de AS de, $es AS es, $fr AS fr
           FROM documents)
         SELECT doc_id, lang AS labeled_lang,
           CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
                WHEN de >= es AND de >= fr THEN 'de'
                WHEN es >= fr THEN 'es' ELSE 'fr' END AS predicted_lang,
           (CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
                 WHEN de >= es AND de >= fr THEN 'de'
                 WHEN es >= fr THEN 'es' ELSE 'fr' END) = lang AS is_match
         FROM scored"""
    },
    "x4_text_fingerprint" ->
      """SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           string_split(text, ' '))), ' ')) AS fingerprint,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
         FROM documents""",
    "x6_corpus_curation" -> {
      val n = "cast(len(string_split(text, ' ')) AS double)"
      val stopRatio = s"(cast(len(list_filter(string_split(text, ' '), " +
        s"t -> t IN ${inList(stopEn)})) AS double) / $n)"
      val quality = Det.sql(s"least($n / 200.0, 1.0) * 0.5 " +
        s"+ least($stopRatio * 4.0, 1.0) * 0.5", 4)
      def cnt(vs: Seq[String]) =
        s"len(list_filter(string_split(text, ' '), t -> t IN ${inList(vs)}))"
      val (en, de, es, fr) = (cnt(stopEn), cnt(stopDe), cnt(stopEs),
        cnt(stopFr))
      val predicted = s"CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr" +
        s" THEN 'en' WHEN $de >= $es AND $de >= $fr THEN 'de'" +
        s" WHEN $es >= $fr THEN 'es' ELSE 'fr' END"
      s"""WITH scored AS (
           SELECT doc_id,
             cast($n AS bigint) AS n_tokens,
             $quality AS quality_score,
             $predicted AS predicted_lang,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS fingerprint
           FROM documents)
         SELECT min(doc_id) AS doc_id,
           arg_min(n_tokens, doc_id) AS n_tokens,
           arg_min(quality_score, doc_id) AS quality_score,
           fingerprint, count(*) AS n_dupes
         FROM scored
         WHERE predicted_lang = 'en' AND n_tokens >= 10
           AND quality_score >= 0.3
         GROUP BY fingerprint"""
    },
    "x7_token_vocab" ->
      """SELECT token, count(*) AS n_occurrences
         FROM (SELECT unnest(string_split(text, ' ')) AS token
               FROM documents)
         GROUP BY 1
         ORDER BY 2 DESC, 1
         LIMIT 50""",
    "x10_ngrams" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         SELECT doc_id,
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS ngram,
           cast(i - 1 AS int) AS pos
         FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i)""",
    "x11_bm25" -> {
      def score(t: String) =
        s"""ln((n_docs - df_$t + 0.5) / (df_$t + 0.5) + 1.0)
            * (tf_$t * 2.2)
            / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))"""
      s"""WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         perdoc AS (
           SELECT doc_id, cast(count(*) AS double) AS dl,
             cast(sum(CASE WHEN token = 'scan' THEN 1 ELSE 0 END)
               AS double) AS tf_scan,
             cast(sum(CASE WHEN token = 'window' THEN 1 ELSE 0 END)
               AS double) AS tf_window,
             cast(sum(CASE WHEN token = 'join' THEN 1 ELSE 0 END)
               AS double) AS tf_join
           FROM tok GROUP BY 1),
         st AS (
           SELECT cast(count(*) AS double) AS n_docs, avg(dl) AS avgdl,
             cast(sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END)
               AS double) AS df_scan,
             cast(sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END)
               AS double) AS df_window,
             cast(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)
               AS double) AS df_join
           FROM perdoc)
         SELECT doc_id,
           ${Det.sql(
        s"${score("scan")} + ${score("window")} + ${score("join")}", 6)}
             AS bm25
         FROM perdoc, st
         ORDER BY bm25 DESC, doc_id
         LIMIT 20"""
    })
}
