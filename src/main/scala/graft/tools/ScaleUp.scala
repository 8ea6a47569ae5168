package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicate the sf0.1 star schema
  * `factor`× with key-stride offsets, producing an sf1.0-class corpus
  * for empirical scaling runs (VERDICT r5 task #1) without touching
  * the read-only driver testdata.
  *
  * Replication is NOT naive row duplication — naive copies would make
  * the dedup/ANN workloads quadratically pathological (every doc gains
  * `factor` exact twins, every vector `factor` exact neighbors), so a
  * 10× data run would measure the artifact, not the engine. Instead
  * each copy is an ISOMETRIC replica, disjoint from the others:
  *
  *  - keys shift by `stride·i` (stride = max(key)+1 of the source), so
  *    referential integrity holds copy-locally and globally;
  *  - `documents.text` gets a per-copy suffix on every token — within
  *    a copy all shingle/Jaccard/MinHash structure is EXACTLY the
  *    original's (token identity is a bijection), across copies the
  *    shingle sets are disjoint → near-dup pair count scales linearly;
  *  - `embeddings.embedding` is component-rotated by `i` positions — a
  *    fixed permutation is orthogonal, so within-copy dot products and
  *    norms are bit-identical to the original's and cross-copy cosines
  *    are uncorrelated → ANN neighbor structure scales linearly;
  *  - `events` keeps its timestamps (same window, `factor`× density —
  *    the harder, state-heavier direction for streaming twins) with
  *    `user_id` offset so per-user session shape is preserved;
  *  - `nation`/`region` stay as-is (true dimensions).
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  * [tables]` — `tables` is an optional comma-separated subset (e.g.
  * `embeddings` for a recall-probe corpus); default is all ten.
  */
object ScaleUp {

  /** Cross-join the table with `spark.range(factor)` and apply the
    * per-copy column rewrites. `copies(i)` sees the copy index column
    * as `col("__copy")`. */
  private def replicate(df: DataFrame, factor: Int)(
      rewrite: DataFrame => DataFrame): DataFrame = {
    val withCopy = df.crossJoin(
      df.sparkSession.range(factor).select(col("id").as("__copy")))
    rewrite(withCopy).drop("__copy")
  }

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    val wanted: String => Boolean =
      if (args.length > 3) args(3).split(',').toSet else _ => true
    val spark = graft.GraftExtensions.session(graft.GraftExtensions.cores,
      "spark.sql.shuffle.partitions" -> "32")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: => DataFrame, t: String): Unit =
      if (wanted(t)) df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    lazy val ck = stride(read("customer"), "c_custkey")
    lazy val ok = stride(read("orders"), "o_orderkey")
    lazy val pk = stride(read("part"), "p_partkey")
    lazy val sk = stride(read("supplier"), "s_suppkey")

    // true dimensions: pass through
    write(read("nation"), "nation")
    write(read("region"), "region")

    write(replicate(read("customer"), factor)(d => d.withColumn(
      "c_custkey", col("c_custkey") + col("__copy") * ck)), "customer")

    write(replicate(read("supplier"), factor)(d => d.withColumn(
      "s_suppkey", col("s_suppkey") + col("__copy") * sk)), "supplier")

    write(replicate(read("part"), factor)(d => d.withColumn(
      "p_partkey", col("p_partkey") + col("__copy") * pk)), "part")

    write(replicate(read("orders"), factor)(d => d
      .withColumn("o_orderkey", col("o_orderkey") + col("__copy") * ok)
      .withColumn("o_custkey", col("o_custkey") + col("__copy") * ck)),
      "orders")

    write(replicate(read("lineitem"), factor)(d => d
      .withColumn("l_orderkey", col("l_orderkey") + col("__copy") * ok)
      .withColumn("l_partkey", col("l_partkey") + col("__copy") * pk)
      .withColumn("l_suppkey", col("l_suppkey") + col("__copy") * sk)),
      "lineitem")

    // ts passes through at its raw physical type (nanos-as-long or
    // micros NTZ, whatever the generator wrote) so the scaled copy
    // round-trips through Tables.load's normalization identically
    write(replicate(read("events"), factor)(d => d
      .withColumn("event_id",
        col("event_id") + col("__copy") * stride(read("events"), "event_id"))
      .withColumn("user_id",
        col("user_id") + col("__copy") * stride(read("events"), "user_id"))),
      "events")

    // per-copy token suffix: copy 0 byte-identical, copy i>0 disjoint
    // shingle space with identical within-copy similarity structure
    write(replicate(read("documents"), factor)(d => d
      .withColumn("doc_id",
        col("doc_id") + col("__copy") * stride(read("documents"), "doc_id"))
      .withColumn("text", when(col("__copy") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1c"), col("__copy")))))
      .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents")

    // rotate components by copy index: an orthogonal permutation, so
    // within-copy dot products are bit-identical to the original's
    write(replicate(read("embeddings"), factor)(d => d
      .withColumn("vec_id",
        col("vec_id") + col("__copy") * stride(read("embeddings"), "vec_id"))
      .withColumn("embedding", when(col("__copy") === 0, col("embedding"))
        .otherwise(expr(
          """transform(sequence(0, size(embedding) - 1),
             j -> element_at(embedding,
               cast((j + __copy) % size(embedding) AS int) + 1))"""))
        .cast("array<float>"))), "embeddings")

    spark.stop()
  }
}
