package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Join and set operators (SURVEY.md §2.3, §2.6).
  *
  * Strategy notes for 100 TB (SURVEY §4): dimension joins (nation,
  * region, supplier) are explicitly `broadcast()` — no shuffle of the
  * fact side. The fact⋈fact join (lineitem⋈orders) is left to Catalyst:
  * at bench scale AQE may still broadcast; at cluster scale it becomes
  * a sort-merge join on the shared key, which is the right plan. Both
  * sides shuffle once on the join key and nothing else.
  */
object Joins {

  /** J1 — fact⋈fact equi-join on the shared key (R:272, R:315: attach
    * derived features on 단지코드). Revenue by order priority. */
  def j1JoinFacts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (Det.d2(col("l_extendedprice"))
          * (lit(1) - Det.d2(col("l_discount")))).as("revenue"))
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum("revenue").cast("double").as("total_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** J2 — broadcast dimension join chain (R:1043–1044: 16-row
    * age_gender enrichment ≈ nation/region dims). */
  def j2JoinDims(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"),
        Det.r2(Det.dsum2(col("c_acctbal")) / count(lit(1)))
          .as("avg_acctbal"))

  /** J3 — anti-join (R:970, R:979: `setdiff` / `!code %in%` as a
    * filter). Customers that never placed a large order. At scale this
    * is a shuffled left-anti hash join — never a collected isin list;
    * the totalprice filter pushes below the join to shrink the build
    * side first. */
  def j3AntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 250000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** J4 — "bind_cols done right" (R:576–577, R:1219–1231): the
    * reference zips tables positionally; at scale the only safe
    * equivalent is to keep the key and equi-join the two derived
    * tables (SURVEY §2.3 J4). */
  def j4ZipJoin(s: SparkSession, dir: String): DataFrame = {
    val ordersPerCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum2(col("o_totalprice")).as("total_spent"))
    val balance = Tables.customer(s, dir)
      .select(col("c_custkey").as("custkey"), col("c_acctbal"))
    balance.join(ordersPerCust, Seq("custkey"), "inner")
  }

  /** T1 — union / row-bind (R:451–463: 16-way `rbind(subset…)`;
    * R:988–989). Two tagged cohorts unioned by name. The same result
    * is expressible as one isin-filter (F2) — both semantics kept. */
  def t1Union(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val a = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_mktsegment"),
        lit("cohort_a").as("cohort"))
    val b = c.filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey"), col("c_mktsegment"),
        lit("cohort_b").as("cohort"))
    a.unionByName(b)
  }

  /** T2 — set difference on data (R:970: `setdiff(codes, trainCodes)`). */
  def t2Except(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
    val bigSpenders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey")).distinct()
    all.except(bigSpenders)
  }

  /** T3 — set intersection (R:159, R:1186). */
  def t3Intersect(s: SparkSession, dir: String): DataFrame = {
    val ordered = Tables.orders(s, dir)
      .select(col("o_custkey").as("custkey")).distinct()
    val positive = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("custkey"))
    ordered.intersect(positive)
  }

  /** J13 — FULL OUTER reconciliation: big spenders (orders side)
    * against high-balance customers (dimension side), keeping the
    * unmatched rows of BOTH sides — the two-way diff a reconciliation
    * job needs (each side's misses are findings, so neither inner nor
    * left join can express it). One keyed exchange per side; the
    * coalesced key + side tag is the standard output shape. */
  def j13FullOuter(s: SparkSession, dir: String): DataFrame = {
    val spenders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big_orders"))
    val rich = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_acctbal"))
    spenders.join(rich,
        col("o_custkey") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("n_big_orders"), col("c_acctbal"),
        when(col("o_custkey").isNull, "dimension_only")
          .when(col("c_custkey").isNull, "fact_only")
          .otherwise("both").as("side"))
  }

  /** T4 — set difference under BAG semantics (EXCEPT ALL): each
    * occurrence counts, so a customer segment appearing 3× on the
    * left and 1× on the right survives twice — the multiplicity-aware
    * form T2's DISTINCT set semantics can't express (reconciliation /
    * inventory-diff workloads need the counts). Spark plans exceptAll
    * as a counted hash aggregation + generate, one keyed exchange. */
  def t4ExceptAll(s: SparkSession, dir: String): DataFrame = {
    // BOTH exceptAll sides derive from one joined projection: the
    // filter comes after the join, so Spark reuses the broadcast
    // exchange of the dim side (two independent join subtrees would
    // build it twice)
    val joined = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("o_totalprice").as("price"))
    val ordered = joined.select("seg")
    val highValue = joined.filter(col("price") > 200000).select("seg")
    // one row per UNMATCHED occurrence; aggregate for a stable gate
    ordered.exceptAll(highValue)
      .groupBy("seg").agg(count(lit(1)).as("n_residual"))
  }

  /** T5 — intersection under BAG semantics (INTERSECT ALL):
    * min(multiplicity-left, multiplicity-right) copies survive. */
  def t5IntersectAll(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_custkey").as("custkey"))
    val b = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 100000)
      .select(col("o_custkey").as("custkey"))
    a.intersectAll(b)
      .groupBy("custkey").agg(count(lit(1)).as("n_common"))
  }

  /** J10 — FUZZY self-join of the corpus vocabulary at edit distance
    * ≤ 1 (typo-variant detection, the entity-resolution primitive):
    * SymSpell deletion-neighborhood blocking (Garbe's symmetric
    * delete algorithm — public domain). Two tokens are within one
    * edit iff their {self} ∪ {one-char-deletions} sets intersect, so
    * candidates come from an EQUI-JOIN on the deletion variant — the
    * blocking key — never the vocab² cross join; only candidates pay
    * the (codegen'd) `levenshtein` verify that kills the false
    * candidates blocking admits (e.g. transpositions at distance 2).
    *
    * Scale shape: the variant explode is ×(len+1) on the VOCAB
    * (already aggregated — corpus-size-independent past saturation),
    * the join shuffles on the variant string, and ≥4-char tokens
    * keep hub variants bounded (one-char deletions of short tokens
    * collide wholesale). At a 100-TB corpus the vocabulary, not the
    * corpus, is the working set — exactly why the op aggregates
    * first. Emits (tok_a, tok_b, n_a, n_b) with counts so the
    * correction direction (low-freq → high-freq) is readable.
    *
    * The synthetic 31-word vocabulary has no organic typo pairs, so
    * the query PLANTS them deterministically (the x13/d7 precedent):
    * every 25th document is appended a copy of its first ≥4-char
    * token with the 3rd character deleted — a guaranteed
    * distance-1 (deletion) variant the oracle replays in SQL. */
  def j10FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val tok1 = element_at(split(col("text"), " "), 1)
    val typo = concat(substring(tok1, 1, 2),
      expr("substring(element_at(split(text, ' '), 1), 4)"))
    val docs = Tables.documents(s, dir).select(
      when(col("doc_id") % 25 === 0 && length(tok1) >= 4,
        concat(col("text"), lit(" "), typo))
        .otherwise(col("text")).as("text"))
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(length(col("token")) >= 4)
    // persisted because BOTH self-join sides consume it: unpersisted,
    // each side re-runs the corpus scan + token agg + variant explode
    // (2 text scans per plan — the r13 audit's j10 finding). The
    // frame is VOCAB-scale (tokens × (len+1) deletion variants, not
    // corpus-scale), so the persist passes the x33/x30 honesty rule;
    // the bench scrub reclaims it after the query.
    val vars = vocab.select(col("token"), col("n"),
        explode(concat(array(col("token")),
          expr("""transform(sequence(1, length(token)),
                   i -> concat(substring(token, 1, i-1),
                               substring(token, i+1,
                                 length(token) - i)))""")))
          .as("v"))
      .distinct()
      .persist()
    vars.as("a").join(vars.as("b"),
        col("a.v") === col("b.v") && col("a.token") < col("b.token"))
      .select(col("a.token").as("tok_a"), col("b.token").as("tok_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
  }

  /** J11 — blocked fuzzy linkage on the NAME VOCABULARY, scored by the
    * native [[graft.functions.JaroWinklerSimilarity]] codegen kernel
    * (Spark has `levenshtein` but no Jaro–Winkler — the standard
    * record-linkage scorer, where transposed/dropped characters should
    * cost less than levenshtein's uniform edits).
    *
    * Scale shape (the record-linkage discipline): never score the
    * corpus cross-product. The candidate space is the DISTINCT
    * (brand, name) vocabulary — bounded by the name dictionary, not
    * the part count, so it does NOT grow with sf — and pairing blocks
    * on brand before the scorer runs. At corpus scale the same
    * expression rides a d2b/LSH-style blocking join; here the
    * vocabulary self-join IS the blocked candidate set. */
  def j11JaroWinklerJoin(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select("p_brand", "p_name").distinct()
    val jw = expr("jaro_winkler(a.p_name, b.p_name)")
    names.as("a").join(names.as("b"),
        col("a.p_brand") === col("b.p_brand")
          && col("a.p_name") < col("b.p_name"))
      .filter(jw >= 0.8)
      .select(col("a.p_brand").as("p_brand"),
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        Det.r6(jw).as("jw_sim"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j10_fuzzy_join" -> j10FuzzyJoin,
    "j11_jaro_winkler_join" -> j11JaroWinklerJoin,
    "j1_join_facts" -> j1JoinFacts,
    "j2_join_dims" -> j2JoinDims,
    "j3_anti_join" -> j3AntiJoin,
    "j4_zip_join" -> j4ZipJoin,
    "t1_union" -> t1Union,
    "t2_except" -> t2Except,
    "t3_intersect" -> t3Intersect,
    "t4_except_all" -> t4ExceptAll,
    "t5_intersect_all" -> t5IntersectAll,
    "j13_full_outer" -> j13FullOuter)

  val oracle: Map[String, String] = Map(
    "j11_jaro_winkler_join" ->
      s"""WITH names AS (
           SELECT DISTINCT p_brand, p_name FROM part)
         SELECT a.p_brand, a.p_name AS name_a, b.p_name AS name_b,
           ${Det.sql("jaro_winkler_similarity(a.p_name, b.p_name)", 6)}
             AS jw_sim
         FROM names a JOIN names b
           ON a.p_brand = b.p_brand AND a.p_name < b.p_name
         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.8""",
    "j10_fuzzy_join" ->
      """WITH planted AS (
           SELECT CASE WHEN doc_id % 25 = 0
                    AND length(string_split(text, ' ')[1]) >= 4
                  THEN text || ' '
                    || substr(string_split(text, ' ')[1], 1, 2)
                    || substr(string_split(text, ' ')[1], 4)
                  ELSE text END AS text
           FROM documents),
         vocab AS (
           SELECT token, cast(count(*) AS bigint) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS token
                 FROM planted)
           GROUP BY 1 HAVING length(token) >= 4),
         vars AS (
           SELECT DISTINCT token, n, v FROM (
             SELECT token, n, token AS v FROM vocab
             UNION ALL
             SELECT token, n,
               substr(token, 1, i - 1) || substr(token, i + 1) AS v
             FROM vocab, unnest(range(1, len(token) + 1)) AS g(i))),
         cand AS (
           SELECT DISTINCT a.token AS tok_a, b.token AS tok_b,
             a.n AS n_a, b.n AS n_b
           FROM vars a JOIN vars b
             ON a.v = b.v AND a.token < b.token)
         SELECT tok_a, tok_b, n_a, n_b FROM cand
         WHERE levenshtein(tok_a, tok_b) <= 1""",
    "j1_join_facts" ->
      s"""SELECT o_orderpriority,
         cast(sum(${Det.sqlD2("l_extendedprice")}
                  * (1 - ${Det.sqlD2("l_discount")})) AS double)
           AS total_revenue,
         count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "j2_join_dims" ->
      s"""SELECT r_name, count(*) AS n_customers,
         ${Det.sql(s"${Det.sqlDsum2("c_acctbal")} / count(*)", 2)}
           AS avg_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1""",
    "j3_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS
           (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_totalprice > 250000)""",
    "j4_zip_join" ->
      s"""SELECT c_custkey AS custkey, c_acctbal,
         count(*) AS n_orders,
         ${Det.sqlDsum2("o_totalprice")} AS total_spent
         FROM customer JOIN orders ON o_custkey = c_custkey
         GROUP BY 1, 2""",
    "t1_union" ->
      """SELECT c_custkey, c_mktsegment, 'cohort_a' AS cohort
         FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT c_custkey, c_mktsegment, 'cohort_b'
         FROM customer WHERE c_mktsegment = 'AUTOMOBILE'""",
    "t2_except" ->
      """SELECT c_custkey AS custkey FROM customer
         EXCEPT
         SELECT DISTINCT o_custkey FROM orders
         WHERE o_totalprice > 400000""",
    "t3_intersect" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders
         INTERSECT
         SELECT c_custkey FROM customer WHERE c_acctbal > 0""",
    "t4_except_all" ->
      """WITH residual AS (
           SELECT c_mktsegment AS seg FROM orders
           JOIN customer ON o_custkey = c_custkey
           EXCEPT ALL
           SELECT c_mktsegment FROM orders
           JOIN customer ON o_custkey = c_custkey
           WHERE o_totalprice > 200000)
         SELECT seg, cast(count(*) AS bigint) AS n_residual
         FROM residual GROUP BY 1""",
    "t5_intersect_all" ->
      """WITH common AS (
           SELECT o_custkey AS custkey FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           INTERSECT ALL
           SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
         SELECT custkey, cast(count(*) AS bigint) AS n_common
         FROM common GROUP BY 1""",
    "j13_full_outer" ->
      """WITH a AS (SELECT o_custkey,
             cast(count(*) AS bigint) AS n_big_orders
           FROM orders WHERE o_totalprice > 400000 GROUP BY 1),
         b AS (SELECT c_custkey, c_acctbal FROM customer
               WHERE c_acctbal > 9000)
         SELECT coalesce(o_custkey, c_custkey) AS custkey,
           n_big_orders, c_acctbal,
           CASE WHEN o_custkey IS NULL THEN 'dimension_only'
                WHEN c_custkey IS NULL THEN 'fact_only'
                ELSE 'both' END AS side
         FROM a FULL OUTER JOIN b ON o_custkey = c_custkey""")
}
