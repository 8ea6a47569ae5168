package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Similarity

/** Consistency of the approximate (LSH/SimHash) dedup paths against
  * their exact counterparts — the guarantees ScalaTest can check that
  * the SQL oracle can't (hash schemes aren't SQL-expressible). */
class DedupSimSpec extends SparkTestBase {

  private def pairSet(df: org.apache.spark.sql.DataFrame,
      a: String, b: String): Set[(Long, Long)] =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d11 delta dedup: exact copy and near-dup rejected, novel kept") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d11").toString
    val corpus0 = "alpha beta gamma delta epsilon zeta"
    Seq(
      (0L, corpus0),                                // corpus
      (1L, "one two three four five six"),          // corpus
      (7L, corpus0),                                // delta: exact copy
      (17L, "one two three four five seven"),       // delta: jacc 3/5
      (27L, "totally different content here now"))  // delta: novel
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Dedup.d11DeltaDedup(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(27L), s"got $kept")
  }

  test("d11b index evolves: admitted docs gate the NEXT batch") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_d11c").toString + "/idx"
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six")).toDF("doc_id", "text")
    Dedup.buildDeltaIndex(corpus, root)
    // batch 1: near-dup of doc 1 rejected, novel doc admitted
    val batch1 = Seq(
      (17L, "one two three four five seven"),
      (27L, "totally different content here now")).toDF("doc_id", "text")
    val admitted1 = Dedup.deltaGateServed(batch1, root)
    assert(admitted1.select("doc_id").as[Long].collect().toSet ==
      Set(27L))
    // evolve: append ONLY the admitted docs to the standing index
    Dedup.appendDeltaIndex(
      batch1.filter(col("doc_id") === 27L), root)
    // batch 2: a NEAR-dup of the just-admitted doc (shares 2 of 3
    // shingles -> jaccard 0.5) must be rejected through the APPENDED
    // postings, not the fingerprint set; a novel doc still passes
    val batch2 = Seq(
      (37L, "totally different content here then"),
      (47L, "fresh words nobody used before ok")).toDF("doc_id", "text")
    val admitted2 = Dedup.deltaGateServed(batch2, root)
    assert(admitted2.select("doc_id").as[Long].collect().toSet ==
      Set(47L), "the evolved index must reject yesterday's admit")
  }

  test("n4/n6 training-sample collect is bounded by construction") {
    // the sample sites at Similarity n4/n6 collect rows passing
    // xxhash64(vec_id) % mod == 0 with mod = max(1, total/16384):
    // the expected sample size is ~16384 INDEPENDENT of corpus size.
    // Assert the formula's bound across scales and the actual count
    // on the gated corpus.
    val sampleCap = 16384L
    Seq(1000L, 100000L, 10000000L, 1000000000L).foreach { total =>
      val mod = math.max(1L, total / sampleCap)
      val expected = total / mod
      assert(expected <= 2 * sampleCap,
        s"total=$total expects $expected sampled rows")
    }
    val emb = Tables.embeddings(spark, sfSmoke)
    val total = emb.count()
    val mod = math.max(1L, total / sampleCap)
    val sampled = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0).count()
    // hash uniformity: the realized count stays within 4× of the cap
    assert(sampled <= 4 * sampleCap, s"sampled $sampled rows")
  }

  test("d9 semdedup: planted exact copies removed, organic corpus intact") {
    val out = Dedup.d9SemanticDedup(spark, sfSmoke).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val nBase = Tables.embeddings(spark, sfSmoke).count()
    val planted = out.keys.filter(_ >= Dedup.D9PlantOffset).toSeq
    assert(out.size == nBase + planted.size)
    assert(planted.nonEmpty)
    // every planted copy folds onto its original and is dropped; the
    // clustering step cannot lose a pair (same vector → same cell)
    planted.foreach { id =>
      assert(out(id) == (id - Dedup.D9PlantOffset, false),
        s"planted $id not deduped onto its original")
    }
    // at τ=0.9 no organic vector may be pruned (corpus max cos ≈ 0.51)
    out.keys.filter(_ < Dedup.D9PlantOffset).foreach { id =>
      assert(out(id) == (id, true), s"organic $id wrongly pruned")
    }
  }

  test("d9 cell sizes stay within the pair-cost bound the dial promises") {
    val corpus = Tables.embeddings(spark, sfSmoke)
      .select("vec_id", "embedding")
    val total = corpus.count()
    val (cells, _) = Similarity.n3AutoDial(total)
    val assigned = Similarity.cosineAssign(
      corpus, Similarity.fitCentroids(corpus, cells, total))
    val maxCell = assigned.groupBy("cell").count()
      .agg(max("count")).head().getLong(0)
    // avg cell = total/cells; k-means imbalance may concentrate, but
    // the per-task pair expansion (maxCell²) must stay far below the
    // corpus-quadratic blowup the clustering exists to prevent
    assert(maxCell * maxCell < total * total / 4,
      s"hot cell of $maxCell vectors defeats the block-local bound")
    assert(assigned.count() == total)
  }

  test("d8 paragraph dedup: planted buckets collapse to one kept copy") {
    val out = Dedup.d8DedupParagraphs(spark, sfSmoke).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // one row per doc, nothing lost at doc grain
    assert(out.size == Tables.documents(spark, sfSmoke).count())
    // every planted bucket (25 buckets over the 50 planted docs at
    // sf0.001) keeps its duplicate paragraph in EXACTLY one doc —
    // the bucket's min pid, i.e. the smallest doc_id
    val planted = out.keys.filter(_ % 10 == 0).toSeq
    assert(planted.nonEmpty)
    planted.groupBy(id => (id / 10) % 25).foreach { case (bucket, ids) =>
      // count docs whose paragraphs are ALL kept (the planted para
      // survived) among this bucket's members with >1 member
      if (ids.size > 1) {
        val fullyKept = ids.count(id => out(id)._2 == out(id)._1)
        assert(fullyKept <= 1,
          s"bucket $bucket kept the planted para in $fullyKept docs")
      }
    }
    // kept mass never exceeds total mass; kept counts in range
    out.foreach { case (id, (nParas, nKept, keptTok)) =>
      assert(nKept <= nParas && nKept >= 0)
      assert(keptTok <= nParas * 25)
    }
    // at least one organic paragraph-level near-dup pruned somewhere
    // (46 docs at sf0.001 per the oracle prototype) — the operator
    // must do more than the plant
    val prunedDocs = out.count { case (id, (nParas, nKept, _)) =>
      id % 10 != 0 && nKept < nParas
    }
    assert(prunedDocs > 0, "no organic paragraph was ever pruned")
  }

  test("d12 containment: planted prefixes caught at 1.0; disjoint " +
      "from the jaccard gate") {
    import org.apache.spark.sql.functions._
    val out = Dedup.d12Containment(spark, sfSmoke)
    // planted prefix → its parent: containment exactly 1.0 (no shingle
    // is corpus-hot at this SF, so the cap never bites)
    val plantedPairs = out.filter(
      col("doc_b") === col("doc_a") + Dedup.D12PlantOffset)
    assert(plantedPairs.count() > 0, "no planted prefix pair surfaced")
    assert(plantedPairs.filter(col("containment") =!= 1.0).count() == 0,
      "uncapped planted prefix must have containment exactly 1.0")
    assert(plantedPairs.filter(
      col("contained_doc") =!= col("doc_b")).count() == 0,
      "the prefix (smaller side) must be the contained doc")
    // the emitted set is exactly what jaccard misses: disjointness is
    // asserted against the jaccard gate run on the IDENTICAL
    // plant-augmented corpus (same pairStats run, same cap counts —
    // vs the plant-free d2b a cap-straddling shingle could in theory
    // shift `shared` between the two corpora)
    val sameCorpusJaccard = Dedup
      .d2PairsOf(Dedup.d12Corpus(spark, sfSmoke), Dedup.StopShingleCap)
      .select("doc_a", "doc_b")
    assert(out.select("doc_a", "doc_b")
      .intersect(sameCorpusJaccard).isEmpty,
      "d12 must be disjoint from the jaccard gate by construction")
  }

  test("d3 minhash-LSH pairs are a subset of d2 exact-jaccard pairs") {
    val exact = pairSet(Dedup.d2DedupNgramJaccard(spark, sfTest),
      "doc_a", "doc_b")
    val lsh = pairSet(Dedup.d3DedupMinhashLsh(spark, sfTest),
      "doc_a", "doc_b")
    assert(lsh.nonEmpty, "LSH found no pairs")
    assert(lsh.subsetOf(exact),
      s"LSH emitted non-exact pairs: ${lsh -- exact}")
    // Banding (4 bands × 4 rows) recovers high-jaccard pairs w.h.p.
    assert(lsh.size >= exact.size / 2,
      s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("d3 and d2 agree on jaccard for common pairs") {
    val exact = Dedup.d2DedupNgramJaccard(spark, sfTest)
      .withColumnRenamed("jaccard", "j_exact")
    val lsh = Dedup.d3DedupMinhashLsh(spark, sfTest)
    val joined = lsh.join(exact, Seq("doc_a", "doc_b"))
    assert(joined.filter(col("jaccard") =!= col("j_exact")).count() == 0)
  }

  test("d6 clusters: paired docs share a rep, reps are component minima") {
    val labels = Dedup.d6DedupClusters(spark, sfTest)
    val docs = Tables.documents(spark, sfTest).count()
    assert(labels.count() == docs)
    val rep = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every near-dup pair landed in one component
    val pairs = pairSet(Dedup.d2DedupNgramJaccard(spark, sfTest),
      "doc_a", "doc_b")
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(rep(a) == rep(b), s"pair ($a,$b) split across components")
    }
    // a rep is a member of its own component and is its minimum
    rep.groupBy(_._2).foreach { case (r, members) =>
      assert(members.keys.min == r, s"component $r has smaller member")
    }
    // keep-list: docs untouched by any pair keep themselves
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2))
    rep.foreach { case (d, r) =>
      if (!inPairs.contains(d)) assert(r == d)
    }
  }

  test("SRP plane generator: all numTables·64 hyperplanes distinct") {
    // r12 ADVICE: the old mod-97 generator produced only 97 distinct
    // planes across 256 indices — tables 0 and 1 shared 31 identical
    // planes, voiding the per-table independence the 1-(1-p^b)^L
    // recall math assumes. Assert the full 8-table width (wider than
    // any registered dial, L ≤ 4) pairwise distinct.
    val planes = Array.tabulate(8 * 64, 64)(Similarity.planeComponent)
    val distinct = planes.map(_.toSeq).toSet
    assert(distinct.size == 8 * 64,
      s"only ${distinct.size} distinct hyperplanes across ${8 * 64}")
    assert(planes.flatten.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("d7 SRP near-dup banding recovers planted jittered duplicates") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sfTest)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    // multiplicative jitter eps ∈ {-3%..+3%} per component → cosine
    // vs the source ≈ 0.9998, comfortably above the 0.98 gate and in
    // SRP's high-recall regime (θ≈1°); deterministic from (id, i)
    val jittered = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      val w = new Array[Float](v.length)
      var i = 0
      while (i < w.length) {
        w(i) = v(i) * (1f + (((id * 31 + i) % 7) - 3) * 0.01f)
        i += 1
      }
      (id + 1000000L, w)
    }
    val corpus = (base ++ jittered).toSeq.toDF("vec_id", "embedding")
    val got = Dedup.d7PairsOf(corpus, numPlanes = 12, numTables = 4,
      tau = 0.98)
    val gotPairs = pairSet(got, "vec_a", "vec_b")
    val planted = jittered.map(j => (j._1 - 1000000L, j._1)).toSet
    assert(planted.nonEmpty)
    val recall = (gotPairs & planted).size.toDouble / planted.size
    assert(recall >= 0.95, s"d7 recall on planted dups: $recall")
    // precision: the exact verify means nothing below tau survives
    assert(got.filter(col("cosine") < 0.98).count() == 0)
  }

  test("d7 near-dup recall at the tau=0.98 boundary INSIDE a deepened " +
      "(over-cap) cluster: the Hamming recovery tier defends it") {
    import spark.implicits._
    // r12 gap: the trie cut proved exact-dup recall under deepening
    // but a cos-0.98 pair collides per table with p^64 ≈ 1.5% once
    // its bucket is driven to full depth — and hot clusters are
    // exactly where near-dups concentrate. Build that adversarial
    // corpus directly: one sign-saturated cluster big enough to blow
    // the 128 cap at every depth, boundary twins planted inside it,
    // pseudo-random background around it.
    val dim = 64
    def noise(seed: Int, i: Int): Double =
      Similarity.planeComponent(seed, i)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val base = unit(Array.tabulate(dim)(i => 1.0 + 0.01 * noise(7919, i)))
    // 400 members at jitter 1e-4 (cos ≈ 0.9999999 vs base): one
    // modal sig group per table far past the cap
    val members = (0 until 400).map { m =>
      unit(Array.tabulate(dim)(i => base(i) + 1e-4 * noise(m, i)))
    }.toArray
    // boundary twins: w = v·cosθ + g⊥·sinθ — cosine to the member is
    // 0.9805 BY CONSTRUCTION (≈0.98049 to the rest of the cluster),
    // margin ≥ 4e-4 above the τ=0.98 gate so float edges can't flake
    val cosT = 0.9805; val sinT = math.sqrt(1 - cosT * cosT)
    val twins = (0 until 400 by 4).map { m =>
      val v = members(m)
      val g = Array.tabulate(dim)(i => noise(100000 + m, i))
      val dot = v.zip(g).map { case (a, b) => a * b }.sum
      val orth = unit(g.zip(v).map { case (gi, vi) => gi - dot * vi })
      (10000L + m,
        v.zip(orth).map { case (vi, oi) => vi * cosT + oi * sinT })
    }
    val background = (0 until 1280).map { b =>
      (20000L + b, unit(Array.tabulate(dim)(i => noise(200000 + b, i))))
    }
    val all: Seq[(Long, Array[Double])] =
      members.zipWithIndex.map { case (v, m) => (m.toLong, v) }.toSeq ++
        twins ++ background
    val floats = all.map { case (id, v) => (id, v.map(_.toFloat)) }
    val corpus = floats.toDF("vec_id", "embedding")
    // the cluster must ACTUALLY deepen — otherwise this test isn't
    // exercising the r12 failure mode
    val settled = Dedup.d7SettledBuckets(corpus, 12, 4)
    assert(settled.filter(col("depth") > 12).count() > 0,
      "corpus did not deepen past the base — not an over-cap cluster")
    // ground truth at τ: brute force over the same float vectors with
    // double accumulation (floatCosine's arithmetic)
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val fv = floats.toArray
    val truth = (for {
      x <- fv.indices.iterator; y <- (x + 1) until fv.length
      if cosF(fv(x)._2, fv(y)._2) >= 0.98
    } yield (math.min(fv(x)._1, fv(y)._1),
      math.max(fv(x)._1, fv(y)._1))).toSet
    assert(truth.size > 50000, s"fixture degenerate: ${truth.size}")
    val got = pairSet(
      Dedup.d7PairsOf(corpus, numPlanes = 12, numTables = 4, tau = 0.98),
      "vec_a", "vec_b")
    // no false pairs (exact verify), and ≥0.9 recall on ALL true
    // pairs at the boundary-heavy distribution
    assert(got.subsetOf(truth), s"non-true pairs: ${(got -- truth).take(3)}")
    val recall = (got & truth).size.toDouble / truth.size
    info(s"deepened-cluster recall: $recall over ${truth.size} true pairs")
    assert(recall >= 0.9, s"deepened-cluster recall at tau=0.98: $recall")
    // and specifically on the planted member↔twin boundary pairs —
    // the exact contract the r12 scaladoc over-claimed
    val plantedPairs = (0 until 400 by 4)
      .map(m => (m.toLong, 10000L + m)).toSet
    val recallPlanted =
      (got & plantedPairs).size.toDouble / plantedPairs.size
    info(s"planted boundary-pair recall: $recallPlanted " +
      s"over ${plantedPairs.size} pairs")
    assert(recallPlanted >= 0.9,
      s"boundary-pair recall inside the deepened cluster: $recallPlanted")
  }

  test("d7 planted exact copies are found with recall 1.0 (gate shape)") {
    val pairs = Dedup.d7DedupEmbeddingLsh(spark, sfTest)
    val planted = Tables.embeddings(spark, sfTest)
      .filter(col("vec_id") % Dedup.D7PlantStride === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + Dedup.D7PlantOffset)).toSet
    val gotPairs = pairSet(pairs, "vec_a", "vec_b")
    assert(planted.subsetOf(gotPairs),
      s"missing planted exact dups: ${planted -- gotPairs}")
    // identical vectors score exactly 1.0 after r6 rounding
    assert(pairs.filter(col("cosine") === 1.0).count() >= planted.size)
  }

  test("d7 adaptive trie cut: settled occupancy bounded on the real " +
      "clustered corpus; exact dups keep identical (depth, bucket)") {
    import spark.implicits._
    // the r12 sf10 lesson: clustered embeddings saturate sign
    // diversity, so a global plane count cannot bound hot buckets —
    // the per-bucket cut must. sf0.1's 20k-vector corpus is the
    // largest gated instance of that distribution.
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select("vec_id", "embedding")
    val settled = Dedup.d7SettledBuckets(base,
      basePlanes = 12, numTables = 4)
    val maxOcc = settled.groupBy("table_id", "depth", "bucket")
      .agg(count(lit(1)).as("occ"))
      .agg(max("occ")).head().getLong(0)
    // a bucket may exceed the cap ONLY at full depth (sign-identical
    // members — true-dup mass the verify must see)
    val overCapShallow = settled
      .groupBy("table_id", "depth", "bucket")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > Dedup.D7HotBucketCap && col("depth") < 64)
      .count()
    assert(overCapShallow == 0,
      s"unsplit hot bucket below full depth (max occ $maxOcc)")
    // exact duplicates end in the same bucket at the same depth in
    // EVERY table — the recall-1.0 mechanism, asserted directly
    val dup = base.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val s2 = Dedup.d7SettledBuckets(base.union(dup),
      basePlanes = 12, numTables = 4)
    val a = s2.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") < 5000000L)
      .select(col("vec_id").as("k"), col("table_id"),
        col("depth"), col("bucket"))
    val b = s2.filter(col("vec_id") >= 5000000L)
      .select((col("vec_id") - 5000000L).as("k"), col("table_id"),
        col("depth").as("d2"), col("bucket").as("b2"))
    val mismatches = a.join(b, Seq("k", "table_id"))
      .filter(col("depth") =!= col("d2") ||
        col("bucket") =!= col("b2")).count()
    assert(mismatches == 0,
      "an exact duplicate diverged from its original in the trie cut")
  }

  test("d7 trie cut, depth-64 residue: a sign-identical cluster past " +
      "the cap is accepted whole and every true pair survives") {
    import spark.implicits._
    // 300 exact copies of one vector (cap is 128): identical
    // signatures can never split, so the cluster must ride to full
    // depth and be emitted as genuine candidate mass — the verify
    // sees all C(300,2) pairs at cosine exactly 1.0
    val one = Tables.embeddings(spark, sfTest)
      .select("vec_id", "embedding").limit(1)
      .collect()(0).getAs[scala.collection.Seq[Float]]("embedding")
      .toArray
    val n = 300
    val corpus = (0 until n).map(i => (i.toLong, one))
      .toDF("vec_id", "embedding")
    val settled = Dedup.d7SettledBuckets(corpus,
      basePlanes = 12, numTables = 4)
    // the whole cluster sits at full depth in every table
    assert(settled.filter(col("depth") =!= 64).count() == 0,
      "a sign-identical over-cap cluster must ride to depth 64")
    assert(settled.groupBy("table_id", "bucket").count()
      .filter(col("count") =!= n).count() == 0,
      "the cluster must stay whole in every table")
    val pairs = Dedup.d7PairsOf(corpus, numPlanes = 12,
      numTables = 4, tau = 0.9)
    assert(pairs.count() == n.toLong * (n - 1) / 2,
      "every true pair of the residue cluster must be emitted")
    assert(pairs.filter(col("cosine") =!= 1.0).count() == 0)
  }

  test("n2 auto-dial: gated SFs sit on the (8,4) floor; dials grow with n") {
    // the n2 oracle SQL hardcodes 8 planes × 4 tables — valid only
    // while every gated corpus size resolves to the floor
    assert(Similarity.n2AutoDial(500L) == ((8, 4)))
    assert(Similarity.n2AutoDial(2000L) == ((8, 4)))
    assert(Similarity.n2AutoDial(8192L) == ((8, 4)))
    // past the floor: planes stay (recall lives there on low-sim
    // corpora — measured in the 50k dial grid), tables grow, capped
    assert(Similarity.n2AutoDial(20000L) == ((8, 8)))
    assert(Similarity.n2AutoDial(50000L) == ((8, 10)))
    assert(Similarity.n2AutoDial(1000000L) == ((8, 16)))
  }

  test("d4 simhash finds near-identical documents") {
    val pairs = Dedup.d4DedupSimhash(spark, sfTest)
    assert(pairs.count() > 0)
    // hamming <= 3 enforced
    assert(pairs.filter(col("hamming") > 3).count() == 0)
  }

  test("d1 fingerprint dedup groups duplicate token-sets") {
    val grouped = Dedup.d1DedupExact(spark, sfTest)
    val total = grouped.agg(sum("n_docs")).head().getLong(0)
    val docs = Tables.documents(spark, sfTest).count()
    assert(total == docs, "every doc must land in exactly one group")
    assert(grouped.filter(col("n_docs") > 1).count() > 0,
      "testdata has planted fingerprint dups")
  }

  test("n2 LSH top-k cosines match n1 brute-force for common pairs") {
    val brute = Similarity.n1SimTopkBruteforce(spark, sfTest)
      .withColumnRenamed("cosine", "c1").withColumnRenamed("rank", "r1")
    val lsh = Similarity.n2SimLshTopk(spark, sfTest)
    val joined = lsh.join(brute, Seq("q_id", "neighbor_id"))
    assert(lsh.count() > 0)
    assert(joined.filter(col("cosine") =!= col("c1")).count() == 0,
      "cosine must be identical where both paths scored the pair")
  }

  test("n3 IVF top-k: cosines agree with n1; probing 4/16 cells keeps recall") {
    val brute = Similarity.n1SimTopkBruteforce(spark, sfTest)
      .withColumnRenamed("cosine", "c1").withColumnRenamed("rank", "r1")
    val ivf = Similarity.n3SimIvfTopk(spark, sfTest)
    assert(ivf.count() > 0)
    val joined = ivf.join(brute, Seq("q_id", "neighbor_id"))
    assert(joined.filter(col("cosine") =!= col("c1")).count() == 0)
    // measured 0.68 on this fixture (cosine-consistent cell assignment
    // + seeded sample-fit quantizer — fully deterministic)
    val recall = joined.count().toDouble / brute.count()
    assert(recall >= 0.6, s"IVF recall@5 too low: $recall")
  }

  test("n4 PQ top-k: exact re-rank cosines agree with n1; recall holds") {
    val brute = Similarity.n1SimTopkBruteforce(spark, sfTest)
      .withColumnRenamed("cosine", "c1").withColumnRenamed("rank", "r1")
    val pq = Similarity.n4SimPqTopk(spark, sfTest)
    assert(pq.count() > 0)
    val joined = pq.join(brute, Seq("q_id", "neighbor_id"))
    // the final cosine is exact (re-ranked via float_cosine), so any
    // pair both paths emit must carry the identical score
    assert(joined.filter(col("cosine") =!= col("c1")).count() == 0)
    // 8×8-dim subspaces at 32 centroids, 25-deep exact re-rank:
    // PQ error only moves the candidate boundary, not final scores
    val recall = joined.count().toDouble / brute.count()
    assert(recall >= 0.6, s"PQ recall@5 too low: $recall")
  }

  test("n6 IVF-PQ top-k: exact re-rank cosines agree with n1; recall holds") {
    val brute = Similarity.n1SimTopkBruteforce(spark, sfTest)
      .withColumnRenamed("cosine", "c1").withColumnRenamed("rank", "r1")
    val ivfpq = Similarity.n6SimIvfPqTopk(spark, sfTest)
    assert(ivfpq.count() > 0)
    val joined = ivfpq.join(brute, Seq("q_id", "neighbor_id"))
    // final cosines are exact re-ranks — identical wherever both emit
    assert(joined.filter(col("cosine") =!= col("c1")).count() == 0)
    // residual codes behind the n3 inverted file: candidates are both
    // routed (nprobe cells) and re-ranked, so recall must hold the
    // same floor as its two parents
    val recall = joined.count().toDouble / brute.count()
    assert(recall >= 0.6, s"IVF-PQ recall@5 too low: $recall")
  }

  test("n2 recall@5 vs n1, and the planes/tables recall↔bucket-size dials") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      pairSet(df, "q_id", "neighbor_id")
    val truth = pairs(Similarity.n1SimTopkBruteforce(spark, sfTest))
    // registered default (8 planes × 4 tables): this fixture's top-5
    // sits at cos≈0.3 (p = 1-θ/π ≈ 0.60, p^8 ≈ 0.016/table →
    // 1-(1-p^8)^4 ≈ 0.06) — the HONEST Charikar odds now that the r13
    // plane fix made tables independent (the old mod-97 lattice's
    // near-parallel planes behaved like far fewer effective bits and
    // inflated measured recall to 0.38). Low-similarity SRP recall IS
    // this bad — that is exactly the documented n2 trade (n3/n6 is
    // the production path); the floor pins the math, the dials below
    // pin the directions.
    val got = pairs(Similarity.n2SimLshTopk(spark, sfTest))
    val recallDefault = (got & truth).size.toDouble / truth.size
    assert(recallDefault >= 0.03, s"n2 default recall: $recallDefault")
    // fewer planes → bigger buckets → more recall (p^4 ≈ 0.127/table
    // → 1-(1-p^4)^4 ≈ 0.42 expected)
    val loose = pairs(Similarity.n2Impl(spark, sfTest, 4, 4))
    val recallLoose = (loose & truth).size.toDouble / truth.size
    info(s"n2 measured recall: default=$recallDefault loose=$recallLoose")
    assert(recallLoose >= 0.25, s"n2 4-plane recall: $recallLoose")
    assert(recallLoose > recallDefault,
      "fewer planes must buy recall back")
    // more planes → max bucket occupancy must DROP (the 100 TB dial:
    // expected n/2^planes per table)
    def maxBucket(planes: Int, tables: Int): Long =
      Similarity.n2Buckets(spark, sfTest, planes, tables)
        .groupBy("table_id", "bucket").count()
        .agg(org.apache.spark.sql.functions.max("count"))
        .head().getLong(0)
    val occ4 = maxBucket(4, 4)
    val occ10 = maxBucket(10, 6)
    assert(occ10 < occ4, s"occupancy must shrink with planes: $occ10 vs $occ4")
    val n = Tables.embeddings(spark, sfTest).count()
    assert(occ10 <= n / 4, s"10-plane max bucket $occ10 vs n=$n")
  }

  test("d5 block-tiled pairs == single-pass pairs (bounded driver memory)") {
    // blockSize 64 forces ~8 tiles at sfTest; a huge blockSize is the
    // single-broadcast degenerate case. Same pairs, same cosines.
    val tiled = Dedup.d5Tiled(spark, sfTest, blockSize = 64)
    val single = Dedup.d5Tiled(spark, sfTest, blockSize = 1 << 20)
    assert(tiled.count() > 0)
    assert(tiled.exceptAll(single).count() == 0)
    assert(single.exceptAll(tiled).count() == 0)
    // the O(n²) baseline refuses corpora above its ceiling, loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.d5Tiled(spark, sfTest, blockSize = 64, maxRows = 10)
    }
    assert(e.getMessage.contains("ORACLE BASELINE"))
  }

  test("d2b stop-shingle cap bounds pair expansion on a planted hot shingle") {
    import spark.implicits._
    // 60 docs sharing one hot shingle ("aa bb cc") + 2 true near-dups.
    // Build as a temp view consumed through the same pipeline entry.
    val hot = (1 to 60).map(i =>
      (i.toLong, s"aa bb cc w$i x$i y$i z$i q$i r$i"))
    val dups = Seq(
      (1001L, "p q r s t u v w x y z"),
      (1002L, "p q r s t u v w x y zz"))
    val dir = java.nio.file.Files.createTempDirectory("graft_d2b").toString
    (hot ++ dups).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // cap=50 drops the hot shingle (60 docs > 50) — the 60×59/2 pair
    // blow-up never materializes; the true near-dup pair survives via
    // its other shared shingles.
    val capped = Dedup.d2Impl(spark, dir, cap = 50)
    val cappedPairs = pairSet(capped, "doc_a", "doc_b")
    assert(cappedPairs.contains((1001L, 1002L)),
      s"true near-dup lost: $cappedPairs")
    assert(!cappedPairs.exists { case (a, b) => a <= 60 && b <= 60 },
      "hot-shingle-only pairs must be dropped by the cap")
    // exact (uncapped) keeps the hot group's pairs — and is a superset
    val exact = pairSet(Dedup.d2Impl(spark, dir, cap = Int.MaxValue),
      "doc_a", "doc_b")
    assert(cappedPairs.subsetOf(exact))

    // d6 over the capped source (the production default's shape):
    // converges without the hot-shingle pair blow-up and still merges
    // the genuine near-dup component.
    val labels = Dedup.d6ClustersOf(spark, dir,
        (s, d) => Dedup.d2Impl(s, d, cap = 50))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 62)
    assert(labels(1001L) == 1001L && labels(1002L) == 1001L)
    // hot-shingle-only docs were never paired → each keeps itself
    (1 to 60).foreach(i => assert(labels(i.toLong) == i.toLong))
  }

  test("d6 over the banded d3 graph merges every LSH pair") {
    // the fully approximate keep-list route: LSH candidates feed the
    // same propagation loop
    val labels = Dedup.d6ClustersOf(spark, sfTest, Dedup.d3DedupMinhashLsh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = pairSet(Dedup.d3DedupMinhashLsh(spark, sfTest),
      "doc_a", "doc_b")
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"LSH pair ($a,$b) split")
    }
    assert(labels.size ==
      Tables.documents(spark, sfTest).count())
  }

  test("d6 star contraction: a 1000-doc chain converges in O(log n) " +
      "rounds with reps = component min") {
    import spark.implicits._
    // adversarial long chain 0-1-2-...-999 (the boilerplate-overlap
    // shape): min-label propagation needs ~999 rounds; large-star/
    // small-star folds paths in half each round → ~log2(1000) ≈ 10
    val chain = (0L until 999L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.alternatingStarLabels(chain)
    assert(rounds <= 12, s"chain took $rounds rounds (propagation-like)")
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 1000)
    assert(m.values.forall(_ == 0L), "all chain members must land on min=0")
    // two disjoint components keep distinct minima
    val two = (Seq((5L, 3L), (3L, 9L)) ++ Seq((20L, 25L), (25L, 22L)))
      .toDF("doc_a", "doc_b")
    val (l2, _) = Dedup.alternatingStarLabels(two)
    val m2 = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 22L -> 20L, 25L -> 20L))
  }

  test("d6 default (capped) equals d6 over the exact pair graph when " +
      "no shingle is hot") {
    val capped = Dedup.d6DedupClusters(spark, sfTest).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.d6ClustersOf(spark, sfTest, Dedup.d2DedupNgramJaccard)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == exact)
  }

  test("n5 int8 quantization: near-lossless cosine, codes in range") {
    val q = Similarity.n5EmbeddingQuantize(spark, sfTest).cache()
    try {
      assert(q.count() == Tables.embeddings(spark, sfTest).count())
      // 8-bit symmetric quantization of 64-dim vectors loses almost
      // no angular information
      assert(q.filter(col("recon_cosine") < 0.995).count() == 0)
      assert(q.filter(col("recon_cosine") > 1.0 + 1e-9).count() == 0)
      assert(q.filter(col("max_abs") <= 0.0).count() == 0)
    } finally q.unpersist()
  }

  test("n1 emits exactly top-5 per query with contiguous ranks") {
    val brute = Similarity.n1SimTopkBruteforce(spark, sfTest)
    val byQ = brute.groupBy("q_id")
      .agg(count(lit(1)).as("n"), max("rank").as("maxr"))
    assert(byQ.filter(col("n") =!= 5 || col("maxr") =!= 5).count() == 0)
  }

  test("x49 semantic decontamination: flags exactly the planted leaks, " +
    "organic corpus stays clean") {
    val out = Similarity.x49SemanticDecontamination(spark, sfSmoke)
      .collect()
    val nBench = Tables.embeddings(spark, sfSmoke)
      .filter(col("vec_id") % 50 === 0).count()
    assert(out.length == nBench,
      s"${out.length} flags for $nBench planted leaks")
    out.foreach { r =>
      assert(r.getLong(0) - dedup.Dedup.D7PlantOffset == r.getLong(1),
        s"flag ${r.getLong(0)} paired with ${r.getLong(1)}")
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("x49 organic-ceiling premise holds at the GATED SFs: max " +
    "organic corpus-benchmark cosine stays well under the threshold") {
    // Re-establishes the SF-BOUNDED premise the x49 closed-form
    // oracle rests on (ADVICE r10): without the plant, no organic
    // corpus-benchmark pair approaches the flag threshold. Measured
    // at BOTH scale factors the driver gates (sf0.01 and sf0.1 —
    // where the oracle actually runs), so premise drift fails here
    // before the oracle silently would.
    import graft.functions.GraftFunctions
    Seq(sfTest, "/root/testdata/sf0.1").foreach { dir =>
      val emb = Tables.embeddings(spark, dir)
        .select("vec_id", "embedding")
      val bench = emb.filter(col("vec_id") % 50 === 0)
      val organicMax = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("embedding").as("c_embedding"))
        .crossJoin(broadcast(bench.select(
          col("embedding").as("b_embedding"))))
        .agg(max(GraftFunctions
          .floatCosine("c_embedding", "b_embedding")).as("mx"))
        .head().getDouble(0)
      assert(organicMax < 0.6,
        f"organic ceiling drifted to $organicMax%.4f at $dir — the " +
          "x49 closed-form premise no longer holds there")
    }
  }

  test("n4b flat-PQ planted gate: every copy's top-1 is its source " +
    "at cosine 1.0") {
    val out = Similarity.n4bPqPlantedGate(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) - dedup.Dedup.D7PlantOffset == r.getLong(1),
        s"planted ${r.getLong(0)} resolved to ${r.getLong(1)}")
      assert(r.getInt(2) == 1 && r.getDouble(3) == 1.0)
    }
  }

  test("n9 delta-append equals a full re-encode under the frozen model") {
    import org.apache.spark.sql.functions.col
    val base = Tables.embeddings(spark, sfSmoke)
      .select("vec_id", "embedding")
    val delta = base
      .filter(col("vec_id") % Dedup.D7PlantStride === 0)
      .select((col("vec_id") + Dedup.D7PlantOffset).as("vec_id"),
        col("embedding"))
    val model = Similarity.fitIvfPq(spark, base, base.count())
    // encode-then-union (the n9 append path) must be bit-identical to
    // encoding the union corpus in one pass: encode is a pure function
    // of (vector, model), so appending can never change a code row
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3))).toSet
    val appended = codeSet(Similarity.encodeIvfPq(spark, base, model))
      .union(codeSet(Similarity.encodeIvfPq(spark, delta, model)))
    val oneShot = codeSet(
      Similarity.encodeIvfPq(spark, base.union(delta), model))
    assert(appended == oneShot)
    // and every planted copy lands in the SAME cell as its source —
    // the routing invariant n9's closed-form oracle rests on
    val cells = oneShot.map { case (id, cell, _, _) => id -> cell }.toMap
    val plants = cells.keys.filter(_ >= Dedup.D7PlantOffset)
    assert(plants.nonEmpty)
    plants.foreach { p =>
      assert(cells(p) == cells(p - Dedup.D7PlantOffset))
    }
  }

  test("d13 SNM: every identical-token-set pair is found at jac 1.0") {
    // identical canonical keys sort adjacent, so CONSECUTIVE members
    // of each duplicate group are lead-distance 1 in both passes —
    // SNM's completeness floor (exact dups can never be missed by the
    // window) independent of the data
    val docs = Tables.documents(spark, sfTest)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))),
          " ").cast("binary")).as("fp"))
    val groups = docs.collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).values.filter(_.length > 1)
      .map(_.map(_._2).sorted)
    val mustFind = groups.flatMap(ids =>
      ids.sliding(2).map(p => (p(0), p(1)))).toSet
    assert(mustFind.nonEmpty, "fixture needs at least one exact-dup pair")
    val got = Dedup.d13SortedNeighborhood(spark, sfTest)
    val ones = pairSet(got.filter(col("jac") === 1.0), "doc_a", "doc_b")
    assert(mustFind.subsetOf(ones),
      s"missing exact pairs: ${mustFind.diff(ones).take(5)}")
    // and nothing below the threshold leaks through
    assert(got.filter(col("jac") < 0.6).count() == 0)
  }

  test("n10 filtered search: label equi-join plan, filter honored") {
    val r = Similarity.n10FilteredTopk(spark, sfSmoke).cache()
    // the predicate is an equi-join key: no nested-loop cross join
    // (n1's truth-baseline plan) anywhere in the filtered path
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"filtered search must join on the filter attribute:\n$plan")
    // every returned neighbor carries the query's label
    val lab = Tables.embeddings(spark, sfSmoke)
      .select(col("vec_id"), col("label"))
    val crossLabel = r
      .join(lab.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "ql"), "q_id")
      .join(lab.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "nl"), "neighbor_id")
      .filter(col("ql") =!= col("nl"))
    assert(crossLabel.count() == 0, "a neighbor escaped the filter")
    // ranks are contiguous from 1 per query
    assert(r.filter(col("rank") < 1 || col("rank") > 5).count() == 0)
    r.unpersist()
  }

  test("x47 hybrid retrieval: contiguous fused ranks, RRF arithmetic, " +
      "rank dominance, no cartesian in the lexical arm") {
    import graft.sim.HybridRetrieval
    val r = HybridRetrieval.x47HybridRetrieval(spark, sfTest).cache()
    // 10 fused results per query, ranks contiguous from 1
    val perQ = r.groupBy("q_id").agg(
      count(lit(1)).as("n"), max("fused_rank").as("mx"),
      min("fused_rank").as("mn")).collect()
    assert(perQ.nonEmpty)
    perQ.foreach { row =>
      assert(row.getLong(1) == 10 && row.getInt(2) == 10
        && row.getInt(3) == 1, s"bad rank shape: $row")
    }
    // the fused score IS the RRF formula over the arm ranks
    r.collect().foreach { row =>
      val (lex, sem) = (row.getInt(3), row.getInt(4))
      val want = (if (lex > 0) 1.0 / (60 + lex) else 0.0) +
        (if (sem > 0) 1.0 / (60 + sem) else 0.0)
      val got = row.getDouble(5)
      assert(math.abs(got - want) < 2e-6, s"rrf mismatch: $row vs $want")
    }
    // dominance: a doc ranked in BOTH arms beats one ranked only in
    // ONE arm at an equal-or-worse position (RRF monotonicity)
    val both = r.filter(col("lex_rank") > 0 && col("sem_rank") > 0)
    val single = r.filter((col("lex_rank") === 0) =!=
      (col("sem_rank") === 0))
    val viol = both.as("b").join(single.as("s"), Seq("q_id"))
      .filter(col("s.lex_rank") + col("s.sem_rank") >=
        greatest(col("b.lex_rank"), col("b.sem_rank")) &&
        col("s.fused_rank") < col("b.fused_rank"))
    assert(viol.count() == 0, "single-arm doc outranked a dominated " +
      "both-arm doc")
    // the lexical arm is an inverted-index JOIN, never a cartesian
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"lexical arm must join on token:\n$plan")
    r.unpersist()
  }

  test("d3b/d4b planted gates: closed form holds — every planted pair, " +
      "nothing else, through the full kernels") {
    import spark.implicits._
    val expected = Tables.documents(spark, sfSmoke)
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(expected.nonEmpty)
    val d3b = Dedup.d3bMinhashPlantedGate(spark, sfSmoke).collect()
    assert(d3b.map(_.getLong(0) - (1L << 44)).toSet == expected)
    assert(d3b.forall(r =>
      r.getLong(1) - r.getLong(0) == (1L << 43) && r.getDouble(2) == 1.0))
    val d4b = Dedup.d4bSimhashPlantedGate(spark, sfSmoke).collect()
    assert(d4b.map(_.getLong(0) - (1L << 44)).toSet == expected)
    assert(d4b.forall(r =>
      r.getLong(1) - r.getLong(0) == (1L << 43) && r.getInt(2) == 0))
  }

  test("n11 MMR: hand-computed fixture — diversity penalty reorders; " +
      "distributed output is well-formed") {
    import graft.sim.MmrRerank
    // 4 candidates: 1 and 2 most relevant but near-duplicates of each
    // other; 3 slightly less relevant, dissimilar. After picking 1,
    // MMR must prefer 3 over 2 (7·90 − 3·95 = 345 < 7·80 − 3·10 = 530),
    // while plain relevance order would keep 2 second.
    val rels = Seq(1L -> 100L, 2L -> 90L, 3L -> 80L, 4L -> 10L)
    def sym(a: Long, b: Long, v: Long) = Seq((a, b) -> v, (b, a) -> v)
    val sims = (sym(1, 2, 95L) ++ sym(1, 3, 10L) ++ sym(1, 4, 0L) ++
      sym(2, 3, 10L) ++ sym(2, 4, 0L) ++ sym(3, 4, 0L)).toMap
    val picked = MmrRerank.selectMmr(rels, sims, k = 3)
    assert(picked.map(_._1) == Seq(1L, 3L, 2L), s"got $picked")
    // scores: s1 = 7·100; s2 = 7·80 − 3·10; s3 = 7·90 − 3·95
    assert(picked.map(_._3) == Seq(700L, 530L, 345L))
    // tie-break: equal scores resolve to the lower doc id
    val tied = MmrRerank.selectMmr(Seq(7L -> 50L, 5L -> 50L),
      Map.empty, k = 1)
    assert(tied.head._1 == 5L)

    // distributed shape: 5 per query, rank 1 = the relevance top-1,
    // scores non-increasing in rank (the MMR objective is a max over
    // a shrinking set with a growing penalty)
    val out = MmrRerank.n11MmrRerank(spark, sfSmoke).cache()
    try {
      val perQ = out.groupBy("q_id").count().collect()
      assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == 5))
      val byRank = out.collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq)
      byRank.foreach { case (q, scores) =>
        // monotone from rank 2 on (theorem: per-candidate penalties
        // only grow as the selected set grows, and the argmax runs
        // over a shrinking set); rank 1→2 is exempt — a NEGATIVE
        // pairwise cosine is a bonus relative to rank 1's zero
        // penalty baseline
        val tail = scores.drop(1)
        assert(tail.zip(tail.tail).forall { case (a, b) => a >= b },
          s"q$q scores not non-increasing after rank 2: $scores")
      }
    } finally out.unpersist()
  }
}
