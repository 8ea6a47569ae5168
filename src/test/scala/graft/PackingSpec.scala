package graft

import org.apache.spark.sql.functions._
import graft.text.SequencePacking

class PackingSpec extends SparkTestBase {
  import spark.implicits._

  test("x8: budget respected, every doc packed exactly once, fill is dense") {
    val packed = SequencePacking.x8SequencePacking(spark, sfSmoke).cache()
    try {
      val nDocs = Tables.documents(spark, sfSmoke).count()
      assert(packed.count() == nDocs)
      assert(packed.select("doc_id").distinct().count() == nDocs)
      // fixture docs are 10–99 tokens: nothing oversize at budget 512
      assert(packed.filter(col("oversize")).count() == 0)
      val fills = packed.groupBy("seq_id").agg(sum("n_tokens").as("fill"))
      assert(fills.filter(col("fill") > 512).count() == 0)
      // packing must be dense, not one-doc-per-bin: with ~56-token
      // docs a 512 budget fits ~9 docs, so bins ≈ total/512 plus the
      // per-partition trailing-bin waste (8 partitions)
      val totalTokens = packed.agg(sum("n_tokens")).head().getLong(0)
      val nBins = fills.count()
      val optimal = (totalTokens + 511) / 512
      assert(nBins <= optimal + 2 * 8,
        s"packing too loose: $nBins bins for optimal $optimal")
    } finally packed.unpersist()
  }

  test("oversize docs get a bin of their own; packing continues after") {
    val docs = Seq(
      (1L, 100L), (2L, 100L), (3L, 9999L), (4L, 100L), (5L, 100L))
      .toDF("doc_id", "n_tokens")
    val packed = SequencePacking
      .packSequences(docs, maxTokens = 250, numParts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val byDoc = packed.map(p => p._1 -> p).toMap
    assert(byDoc(3L)._3, "9999-token doc must be flagged oversize")
    // the oversize bin holds only doc 3
    val osBin = byDoc(3L)._2
    assert(packed.count(_._2 == osBin) == 1)
    // docs 1+2 share a bin (200 ≤ 250); 4+5 share a later bin
    assert(byDoc(1L)._2 == byDoc(2L)._2)
    assert(byDoc(4L)._2 == byDoc(5L)._2)
    assert(byDoc(4L)._2 != byDoc(1L)._2)
  }

  test("the running bin continues across an interspersed oversize doc") {
    // docs 1 and 3 fit together (200 ≤ 250); the oversize doc 2
    // between them must NOT abandon the partially-filled running bin
    val docs = Seq((1L, 100L), (2L, 9999L), (3L, 100L))
      .toDF("doc_id", "n_tokens")
    val packed = SequencePacking
      .packSequences(docs, maxTokens = 250, numParts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val byDoc = packed.map(p => p._1 -> p).toMap
    assert(byDoc(2L)._3 && packed.count(_._2 == byDoc(2L)._2) == 1)
    assert(byDoc(1L)._2 == byDoc(3L)._2,
      "running bin must survive the oversize interruption")
  }

  test("grouped packing: per-group state, deterministic across runs") {
    val docs = (1L to 300L).map(i => (i, (i % 90) + 10L))
      .toDF("doc_id", "n_tokens")
    val a = SequencePacking
      .packSequencesGrouped(docs, maxTokens = 250, numGroups = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    val b = SequencePacking
      .packSequencesGrouped(docs, maxTokens = 250, numGroups = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b), "grouped packing must be deterministic")
    // seq_id's high bits are the doc_id%3 group — every doc must sit
    // in its own group's bins even when hash partitioning co-locates
    // several groups in one task
    assert(a.forall { case (id, seq) => (seq >>> 32) == id % 3 })
    // budget respected within every bin
    val fills = a.groupBy(_._2).values.map(_.map { case (id, _) =>
      (id % 90) + 10L
    }.sum)
    assert(fills.forall(_ <= 250))
  }

  test("bins never span partitions: seq_id carries the partition id") {
    val docs = (1L to 400L).map(i => (i, 50L)).toDF("doc_id", "n_tokens")
    val packed = SequencePacking
      .packSequences(docs, maxTokens = 512, numParts = 4)
    val parts = packed
      .withColumn("pid", shiftrightunsigned(col("seq_id"), 32))
      .groupBy("seq_id").agg(countDistinct("pid").as("k"))
    assert(parts.filter(col("k") > 1).count() == 0)
    assert(packed.count() == 400)
  }

  test("packByGroup: max(bin) + max(if(oversize, 0, 1)) counts each " +
      "group's distinct sequences (x25's n_sequences)") {
    // group 0: oversize docs only; group 1: mixed, an oversize doc
    // first and between fitting ones; group 2: no oversize doc;
    // group 3: one fitting doc (bin 0 alone)
    val docs = Seq(
      (10L, 900L, 0L), (11L, 700L, 0L), (12L, 600L, 0L),
      (20L, 800L, 1L), (21L, 200L, 1L), (22L, 200L, 1L), (23L, 999L, 1L),
      (24L, 200L, 1L), (25L, 100L, 1L), (26L, 300L, 1L),
      (30L, 250L, 2L), (31L, 250L, 2L), (32L, 250L, 2L), (33L, 10L, 2L),
      (40L, 5L, 3L)).toDF("doc_id", "n_tokens", "g")
    val packed = SequencePacking.packByGroup(docs, maxTokens = 500,
      numParts = 2, grp = col("g"))
    val got = packed.groupBy(shiftright(col("seq_id"), 32).as("g"))
      .agg(SequencePacking.binCount.as("bins"),
        countDistinct(col("seq_id")).as("distinct"),
        max(col("oversize").cast("int")).as("any_os"),
        min(col("oversize").cast("int")).as("all_os"))
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSeq
    assert(got.map(r => (r._1, r._2)) == got.map(r => (r._1, r._3)))
    assert(got.map(r => (r._1, r._3)) == Seq(0L -> 3L, 1L -> 5L, 2L -> 2L,
      3L -> 1L))
    // the three shapes the identity must hold on are all present
    assert(got.map(r => (r._4, r._5)) == Seq((1, 1), (1, 0), (0, 0), (0, 0)))
    val f = packed.agg(SequencePacking.binCount.as("n")).schema("n")
    assert(f.dataType == org.apache.spark.sql.types.LongType && !f.nullable)
  }

  test("x44: boundary spans tile every sequence gaplessly") {
    val b = SequencePacking
      .x44PackingBoundaries(spark, sfSmoke).cache()
    // one row per packed doc, same doc set as x8
    assert(b.count() ==
      SequencePacking.x8SequencePacking(spark, sfSmoke).count())
    // segment 0 starts at token 0; every later segment starts where
    // its predecessor ended (block-diagonal mask tiles with no gap
    // or overlap); non-oversize sequences fit the 512 budget
    assert(b.filter(col("seg_idx") === 0 && col("tok_begin") =!= 0)
      .count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seq_id").orderBy("doc_id")
    assert(b.withColumn("prev_end", lag("tok_end", 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("prev_end") =!= col("tok_begin")).count() == 0)
    assert(b.filter(col("tok_end") <= col("tok_begin")).count() == 0)
    b.unpersist()
  }
}
