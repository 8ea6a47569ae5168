package graft.text

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** X8 — sequence packing: assemble tokenized documents into
  * fixed-token-budget training sequences, the step between a curated
  * corpus (x6) and a training run. Unpacked short documents waste the
  * context window as padding; packing fills each `maxTokens` sequence
  * with whole documents (Raffel et al. 2020 §2.2 pack examples this
  * way for T5; Brown et al. 2020 likewise).
  *
  * Bin packing is inherently sequential, so the scalable form is
  * partition-local next-fit: documents are range-partitioned and
  * sorted by doc_id (deterministic layout), each partition packs ITS
  * OWN docs in order, and sequence ids carry the partition id in the
  * high bits so bins never span partitions — no shuffle beyond the
  * range partitioning, no coordination. The price is at most one
  * underfull trailing bin per partition: waste ≤ numPartitions ·
  * maxTokens tokens total, negligible against total_tokens/maxTokens
  * bins at corpus scale (and the spec pins exactly this bound).
  * A document longer than the budget gets a bin of its own, flagged
  * `oversize` — chunk-or-drop is the caller's policy decision.
  */
object SequencePacking {

  /** Pack (doc_id, n_tokens) rows into sequences of at most
    * `maxTokens`. Output: one row per doc — (doc_id, n_tokens,
    * seq_id, oversize). */
  def packSequences(docsWithTokens: DataFrame, maxTokens: Int,
      numParts: Int): DataFrame = {
    val s = docsWithTokens.sparkSession
    import s.implicits._
    docsWithTokens
      .repartitionByRange(numParts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId().toLong
        var nextBin = 1L // bin 0 is the initial running bin
        var curBin = 0L
        var fill = 0L
        it.map { case (id, t) =>
          val oversize = t > maxTokens
          if (oversize) {
            // a bin of its own; curBin/fill untouched, so the running
            // bin GENUINELY continues across interspersed oversize
            // docs — the ≤-one-underfull-trailing-bin waste bound
            // depends on never abandoning a partial bin
            val b = nextBin
            nextBin += 1
            (id, t, (pid << 32) | b, true)
          } else {
            if (fill + t > maxTokens) {
              curBin = nextBin; nextBin += 1; fill = 0L
            }
            fill += t
            (id, t, (pid << 32) | curBin, false)
          }
        }
      }.toDF("doc_id", "n_tokens", "seq_id", "oversize")
  }

  /** Deterministic twin of [[packSequences]]: the pack group is
    * `pmod(doc_id, numGroups)` instead of a sampled range partition,
    * so the layout — and therefore every bin assignment — is a pure
    * function of the data, independent of Spark's range-sampling
    * seed. Hash-partitioning may co-locate several groups in one
    * task, so the packer keys its running state on the group value
    * (groups are contiguous after the within-partition sort) rather
    * than on the task id. Same next-fit semantics, same ≤-one-
    * underfull-trailing-bin-per-group waste bound; this variant is
    * what the oracle-gated x8 query runs, because DuckDB can replay
    * `doc_id % n` grouping exactly while it cannot replay Spark's
    * range-partitioner sampling. */
  def packSequencesGrouped(docsWithTokens: DataFrame, maxTokens: Int,
      numGroups: Int): DataFrame =
    packByGroup(docsWithTokens, maxTokens, numGroups,
      pmod(col("doc_id"), lit(numGroups.toLong)))

  /** [[packSequencesGrouped]] with a caller-supplied group column —
    * the e2e pipeline packs per SHARD (the x17 key-mix assignment)
    * so each training shard's sequences are self-contained. */
  def packByGroup(docsWithTokens: DataFrame, maxTokens: Int,
      numParts: Int, grp: org.apache.spark.sql.Column): DataFrame = {
    val s = docsWithTokens.sparkSession
    import s.implicits._
    docsWithTokens
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"),
        grp.cast("long").as("grp"))
      .repartition(numParts, col("grp"))
      .sortWithinPartitions("grp", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curGrp = Long.MinValue
        var nextBin = 1L
        var curBin = 0L
        var fill = 0L
        it.map { case (id, t, g) =>
          if (g != curGrp) { curGrp = g; nextBin = 1L; curBin = 0L; fill = 0L }
          val oversize = t > maxTokens
          val bin =
            if (oversize) { val b = nextBin; nextBin += 1; b }
            else {
              if (fill + t > maxTokens) {
                curBin = nextBin; nextBin += 1; fill = 0L
              }
              fill += t
              curBin
            }
          (id, t, (g << 32) | bin, oversize)
        }
      }.toDF("doc_id", "n_tokens", "seq_id", "oversize")
  }

  /** Distinct packed sequences of one [[packByGroup]] group, as an
    * aggregate over its rows: next-fit puts the first non-oversize
    * doc in bin 0 and opens bins 1, 2, … one at a time, each for the
    * doc that needed it, so the used bins are 0 (iff a non-oversize
    * doc exists) and 1..max(bin) — `max(bin) + max(if(oversize, 0,
    * 1))`, bin being the low 32 bits of `seq_id`. Equals
    * `countDistinct(seq_id)` per group (PackingSpec), without the
    * distinct aggregate's extra shuffle; non-null like the count. */
  val binCount: org.apache.spark.sql.Column = coalesce(
    max(col("seq_id").bitwiseAND(0xFFFFFFFFL))
      + max(when(col("oversize"), 0L).otherwise(1L)), lit(0L))

  /** The queries() surface: pack the documents table at a 512-token
    * budget using the whitespace token count (x1's `token_count`
    * native expression), with the deterministic mod-`numGroups`
    * layout so the DuckDB oracle can replay the exact recurrence as
    * a recursive CTE (next-fit is a reset-based recurrence, not a
    * plain cumulative-sum window — recursion is the faithful SQL
    * form). PackingSpec additionally pins the invariants (budget
    * respected, every doc exactly once, waste bound). */
  def x8SequencePacking(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      expr("token_count(text)").cast("long").as("n_tokens"))
    packSequencesGrouped(docs, maxTokens = 512, numGroups = 8)
  }

  /** X44 — packed-sequence BOUNDARY MAP: for each (sequence,
    * document) the segment index and token span [tok_begin, tok_end)
    * the document occupies inside its packed sequence — exactly what
    * a trainer consumes to build the block-diagonal attention mask
    * and per-segment position-id resets for packed batches (without
    * it, packed documents attend across boundaries — the
    * cross-contamination packing papers warn about). Derived on top
    * of x8's bin assignment: segments order by doc_id within a
    * sequence, spans are the running token sum. The window partitions
    * by seq_id — a sequence holds at most maxTokens/min_doc_tokens
    * documents, so this is a bounded per-key sort after one hash
    * exchange, never a global sort. */
  def x44PackingBoundaries(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("seq_id").orderBy("doc_id")
    x8SequencePacking(s, dir).select(
      col("doc_id"), col("seq_id"),
      (row_number().over(w) - 1).cast("long").as("seg_idx"),
      coalesce(sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        .as("tok_begin"),
      sum(col("n_tokens")).over(w).as("tok_end"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x8_sequence_packing" -> x8SequencePacking,
    "x44_packing_boundaries" -> x44PackingBoundaries)

  /** Next-fit replayed row-by-row per group: state = (fill, curbin,
    * nextbin), advanced over rows ordered by doc_id within
    * doc_id%8 groups — identical transition rules to the Scala
    * packer above, so the hash gate checks the real recurrence. */
  /** The shared next-fit replay CTE (see the note above x8's oracle
    * entry) — x44 layers boundary windows over the same recurrence. */
  private val packCte =
    """WITH RECURSIVE base AS (
         SELECT doc_id % 8 AS grp, doc_id,
                cast(len(string_split(text, ' ')) AS bigint) AS t,
                row_number() OVER (PARTITION BY doc_id % 8
                                   ORDER BY doc_id) AS rn
         FROM documents),
       pack(grp, rn, doc_id, t, bin, fill, curbin, nextbin) AS (
         SELECT grp, rn, doc_id, t,
                CASE WHEN t > 512 THEN 1 ELSE 0 END,
                CASE WHEN t > 512 THEN 0 ELSE t END,
                0,
                CASE WHEN t > 512 THEN 2 ELSE 1 END
         FROM base WHERE rn = 1
         UNION ALL
         SELECT b.grp, b.rn, b.doc_id, b.t,
                CASE WHEN b.t > 512 THEN p.nextbin
                     WHEN p.fill + b.t > 512 THEN p.nextbin
                     ELSE p.curbin END,
                CASE WHEN b.t > 512 THEN p.fill
                     WHEN p.fill + b.t > 512 THEN b.t
                     ELSE p.fill + b.t END,
                CASE WHEN b.t > 512 THEN p.curbin
                     WHEN p.fill + b.t > 512 THEN p.nextbin
                     ELSE p.curbin END,
                CASE WHEN b.t > 512 THEN p.nextbin + 1
                     WHEN p.fill + b.t > 512 THEN p.nextbin + 1
                     ELSE p.nextbin END
         FROM pack p JOIN base b ON b.grp = p.grp AND b.rn = p.rn + 1)"""

  val oracle: Map[String, String] = Map(
    "x8_sequence_packing" ->
      s"""$packCte
         SELECT doc_id, t AS n_tokens,
                cast(grp * 4294967296 + bin AS bigint) AS seq_id,
                t > 512 AS oversize
         FROM pack""",
    "x44_packing_boundaries" ->
      s"""$packCte,
         packed AS (
           SELECT doc_id, t,
                  cast(grp * 4294967296 + bin AS bigint) AS seq_id
           FROM pack)
         SELECT doc_id, seq_id,
           cast(row_number() OVER
             (PARTITION BY seq_id ORDER BY doc_id) - 1 AS bigint)
             AS seg_idx,
           cast(coalesce(sum(t) OVER
             (PARTITION BY seq_id ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS bigint) AS tok_begin,
           cast(sum(t) OVER
             (PARTITION BY seq_id ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS bigint) AS tok_end
         FROM packed""")
}
