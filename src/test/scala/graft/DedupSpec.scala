package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operator semantics, incl. planted-near-duplicate recovery (the
  * hard signal the oracle can't give the xxhash64-based paths). */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    // near-dup of 1: one word changed
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    // bag-dup of 1: same tokens, different order
    (4L, "today the lazy dog jumps over the quick brown fox near the river bank"),
    (5L, "completely different content about spark catalyst optimizer plans and shuffles"),
    (6L, "yet another unrelated document mentioning parquet files and column pruning")
  ).toDF("doc_id", "text")

  test("exact dedup groups exact duplicates, keeps min id") {
    val g = Dedup.exactGroups(corpus, "text", "doc_id")
      .filter(col("dup_count") > 1).collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("keep_doc_id") === 1L)
    assert(g.head.getAs[Long]("dup_count") === 2L)
  }

  test("dropExactDuplicates keeps one row per content, min id") {
    val kept = Dedup.dropExactDuplicates(corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 2L, 4L, 5L, 6L))
  }

  test("bag dedup unifies token-permuted documents") {
    val g = Dedup.bagGroups(corpus, "text", "doc_id")
      .filter(col("dup_count") > 1).collect()
    // {1,3,4} share the token set; 2 differs (cat vs dog)
    assert(g.length === 1)
    assert(g.head.getAs[Long]("keep_doc_id") === 1L)
    assert(g.head.getAs[Long]("dup_count") === 3L)
  }

  test("minhash LSH recovers planted near-duplicates and plants no false positives") {
    val pairs = Dedup.minhashNearDup(corpus, "text", "doc_id", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // high-overlap pairs among {1,2,3} (3==1 exactly; 2 is one word off)
    assert(pairs.contains((1L, 3L)))
    assert(pairs.contains((1L, 2L)) === pairs.contains((2L, 3L))) // symmetry of equal docs
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L || p._2 == 6L))
  }

  test("minhash candidates are a superset of verified pairs") {
    val cand = Dedup.minhashCandidates(corpus, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    val ver = Dedup.minhashNearDup(corpus, "text", "doc_id", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(ver.subsetOf(cand))
  }

  test("jaccard join equals minhash-verified pairs at matching threshold") {
    val exact = Dedup.jaccardJoin(corpus, "text", "doc_id", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDup(corpus, "text", "doc_id", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // LSH never invents pairs
    assert(exact === lsh)       // and at this scale recovers all of them
  }

  test("delta jaccard equals the full self-join restricted to cross-split pairs") {
    // real documents fixture, split new/old on doc_id % 10 — the law:
    // matching the batch against the corpus finds EXACTLY the pairs the
    // full (corpus ∪ batch) self-join finds with one member per side
    val d = spark.read.parquet(s"$sfSmoke/documents.parquet")
    val isNew = (id: Long) => id % 10 == 0
    val full = Dedup.jaccardJoin(d, "text", "doc_id", 0.3, 3)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val expected = full.collect {
      case (a, b) if isNew(a) && !isNew(b) => (a, b)
      case (a, b) if !isNew(a) && isNew(b) => (b, a)
    }.toSet
    val delta = Dedup.deltaJaccardJoin(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", 0.3, 3)
      .select(col("doc_new"), col("doc_old")).as[(Long, Long)].collect().toSet
    assert(delta === expected)
    assert(delta.nonEmpty, "fixture produced no cross-split pairs — law vacuous")
    // withinBatch additionally covers new x new, so delta ∪ within ==
    // every full pair with at least one new member
    val withBatch = Dedup.deltaJaccardJoin(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", 0.3, 3, withinBatch = true)
      .select(col("doc_new"), col("doc_old")).as[(Long, Long)].collect().toSet
    val expectedAll = expected ++ full.collect {
      case (a, b) if isNew(a) && isNew(b) => (a, b) }.toSet
    assert(withBatch === expectedAll)
  }

  test("simhash: exact duplicates share signatures; near-dups are close; hamming classification") {
    val sig = Dedup.simhash(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(5L)))
    val pairs = Dedup.simhashNearDup(corpus, "text", "doc_id", 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L))) // hamming 0
  }

  test("nearDupClusters labels every member with the min reachable doc id") {
    // a 5-node chain (worst-case diameter) + a separate pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("nearDupClusters converges on a 300-node chain within the round budget") {
    // transitive-drift worst case: plain min-label propagation needs
    // O(diameter)=300 rounds and would blow the maxIters bound; pointer
    // jumping converges in O(log diameter)
    val pairs = spark.range(1, 300)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val got = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect()
    assert(got.length === 300)
    assert(got.forall(_._2 == 1L))
  }

  test("decontamination flags verbatim-embedded eval items at containment 1.0") {
    val train = Seq(
      (1L, "alpha beta gamma delta THE BENCH MARK QUESTION TEXT epsilon zeta eta"),
      (2L, "totally unrelated training content with its own words here")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "THE BENCH MARK QUESTION TEXT"),       // embedded verbatim in doc 1
      (200L, "an eval item nobody copied anywhere")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, eval, "text", "doc_id", 0.5)
      .select("train_id", "eval_id", "containment")
      .as[(Long, Long, Double)].collect()
    // every 3-gram of eval 100 appears in train 1 → containment exactly 1;
    // nothing else crosses the threshold (containment is w.r.t. the EVAL
    // side — the long train doc does not dilute the hit)
    assert(out.toSeq === Seq((1L, 100L, 1.0)))
  }

  test("degenerate LSH bucket (fully duplicated corpus) stays bounded and exact") {
    // 500 identical docs → every band bucket holds all 500 ids. The pair
    // expansion must happen via the bucket self-join (distributed shuffle
    // rows), never a single task's in-memory combinations array; output
    // is the inherent 500·499/2 pairs, every one at jaccard 1.0.
    val dup = spark.range(1, 501)
      .select(col("id").as("doc_id"),
        lit("the same document body repeated verbatim across the corpus many times").as("text"))
    val pairs = Dedup.minhashNearDup(dup, "text", "doc_id", 0.5)
    assert(pairs.count() === 500L * 499 / 2)
    assert(pairs.filter(col("jaccard") =!= 1.0).isEmpty)
  }

  test("jaccard df pruning drops hot shingles from candidates but not from sizes") {
    // doc pairs (1,2) share only the hot shingle; (3,4) share a rare one.
    // With maxDf=2 the hot shingle (df=4) is pruned: pair (1,2) vanishes,
    // (3,4) survives with its jaccard denominator still counting ALL
    // shingles of both docs.
    val df = Seq(
      (1L, "hot hot hot a1 b1 c1"), (2L, "hot hot hot a2 b2 c2"),
      (3L, "rare rare rare x y z hot hot hot"), (4L, "rare rare rare x y w hot hot hot")
    ).toDF("doc_id", "text")
    val unpruned = Dedup.jaccardJoin(df, "text", "doc_id", 0.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(unpruned.contains((1L, 2L)))
    val pruned = Dedup.jaccardJoin(df, "text", "doc_id", 0.0, maxDf = 2)
    val prunedPairs = pruned.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!prunedPairs.contains((1L, 2L)))
    assert(prunedPairs.contains((3L, 4L)))
  }

  test("CDC chunks cover the text exactly and an early edit only perturbs a prefix of chunks") {
    val base = ("the quick brown fox jumps over the lazy dog " * 20).trim
    val edited = "XX " + base
    val chunksOf = (t: String) =>
      Dedup.cdcChunks(Seq((1L, t)).toDF("doc_id", "text"), "text", "doc_id")
        .orderBy(col("chunk_no"))
        .select("fp", "chunk_len").as[(String, Int)].collect().toSeq
    val a = chunksOf(base)
    val b = chunksOf(edited)
    // full coverage, deterministic
    assert(a.map(_._2).sum === base.length)
    assert(a === chunksOf(base))
    assert(a.length > 2, s"expected several chunks, got ${a.length}")
    // content-defined boundaries: the edit changes a prefix of chunks but
    // the chunk streams re-synchronize — a shared suffix of fingerprints
    val common = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.length
    assert(common > 0, s"no shared chunk suffix: a=$a b=$b")
  }

  test("shingles of short documents never produce empty arrays") {
    val df = Seq((1L, "one"), (2L, "one two")).toDF("doc_id", "text")
    val sizes = df.select(size(Dedup.shingles(col("text"), 3))).as[Int].collect()
    assert(sizes.forall(_ === 1))
  }

  test("codegen'd shingle expression is identical to the HOF formulation") {
    // fixture docs + adversarial edge cases: empty text, repeated and
    // trailing separators (empty tokens), short docs, duplicate shingles
    val edge = Seq((9001L, ""), (9002L, "a  b "), (9003L, " x"),
      (9004L, "w w w w w w"), (9005L, "one two")).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select(col("doc_id"), col("text")).unionAll(edge)
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = docs.select(col("doc_id"),
          Dedup.shingles(col("text"), n).as("fast"),
          Dedup.shinglesHof(col("text"), n).as("hof"))
        .filter(col("fast") =!= col("hof"))
      assert(diff.isEmpty, s"n=$n mismatch: ${diff.take(3).mkString}")
    }
  }

  test("md5 minhash signatures: equal docs sign equal; disjoint docs sign apart") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),           // identical to 1 → same signature
      (3L, "zz yy xx ww vv uu tt ss")    // disjoint shingles
    ).toDF("doc_id", "text")
    val k = 32
    val sig = Dedup.minhashSignatureMd5(docs, "text", "doc_id", 3, k)
      .orderBy("doc_id").collect()
    val s1 = (1 to k).map(sig(0).getLong)
    val s2 = (1 to k).map(sig(1).getLong)
    val s3 = (1 to k).map(sig(2).getLong)
    assert(s1 === s2, "identical content must produce identical signatures")
    // disjoint shingle sets: component collisions only by hash accident
    // (P ≈ k/2^60); estimator for a disjoint pair is 0
    assert(s1.zip(s3).count { case (a, b) => a == b } === 0)
  }

  test("leakFreeSplit: co-cluster docs share one split; no doc is lost or duplicated") {
    val pairs = Dedup.jaccardJoin(corpus, "text", "doc_id", 0.5, 3)
      .select(col("doc_a"), col("doc_b"))
    val split = Dedup.leakFreeSplit(corpus, pairs, "doc_id")
      .select(col("doc_id"), col("rep"), col("split"))
    val byDoc = split.as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(byDoc.size === 6) // partition of the corpus: nothing lost, nothing doubled
    // docs 1,2,3 are one near-dup cluster (4's token REORDER breaks
    // 3-gram shingle overlap below 0.5 — bag-dedup's job, not LSH's) →
    // identical rep (cluster min 1) and identical split: no straddling
    val cluster = Seq(1L, 2L, 3L).map(byDoc)
    assert(cluster.map(_._2).toSet === Set(1L))
    assert(cluster.map(_._3).toSet.size === 1)
    // singletons represent themselves
    assert(Seq(4L, 5L, 6L).forall(i => byDoc(i)._2 === i))
  }

  test("lshParams: thresholds bracket tau, monotone in tau, divisor-exact") {
    // k=32: every returned pair divides k and its S-curve threshold is
    // the nearest achievable to tau
    for (tau <- Seq(0.2, 0.35, 0.5, 0.7, 0.9)) {
      val (b, r) = Dedup.lshParams(32, tau)
      assert(b * r === 32)
      val t = math.pow(1.0 / b, 1.0 / r)
      // no other divisor pair is strictly closer
      val closer = (1 to 32).filter(32 % _ == 0).exists { b2 =>
        math.abs(math.pow(1.0 / b2, 1.0 / (32 / b2)) - tau) <
          math.abs(t - tau) - 1e-12
      }
      assert(!closer, s"tau=$tau chose ($b,$r) t=$t")
    }
    // lower tau → at least as many bands (recall pressure)
    val bands = Seq(0.2, 0.4, 0.6, 0.8).map(t => Dedup.lshParams(32, t)._1)
    assert(bands === bands.sorted.reverse, bands.toString)
    // the entry family's shipped (k=32, bands=16) is what tau≈0.25 derives
    assert(Dedup.lshParams(32, 0.25) === ((16, 2)))
  }

  test("lshParamsFor: occupancy bound held, depth grows with corpus, ties toward bands, deepest fallback") {
    // k=32, tau=0.5 (s0=0.25, occ=16): the knee points — 500 docs admit
    // r=4 (8·500·0.25⁴ = 15.6 ≤ 16), 5000 need r=8, huge corpora r=16
    assert(Dedup.lshParamsFor(32, 0.5, 500L) === ((8, 4)))
    assert(Dedup.lshParamsFor(32, 0.5, 5000L) === ((4, 8)))
    assert(Dedup.lshParamsFor(32, 0.5, 50000L) === ((4, 8)))
    assert(Dedup.lshParamsFor(32, 0.5, 5000000L) === ((2, 16)))
    // the admissibility predicate genuinely holds at every returned pair
    for (e <- 0 to 40; n = 1L << e) {
      val (b, r) = Dedup.lshParamsFor(32, 0.5, n)
      assert(b * r === 32)
      if (b > 1) // non-fallback: the bound must hold
        assert(b * n.toDouble * math.pow(0.25, r) <= 16.0, s"n=$n ($b,$r)")
      // depth never DECREASES with corpus growth
      val (_, r2) = Dedup.lshParamsFor(32, 0.5, n * 2)
      assert(r2 >= r, s"depth shrank: n=$n r=$r -> r=$r2")
    }
    // an impossible occupancy forces the deepest banding (k binds)
    assert(Dedup.lshParamsFor(32, 0.5, Long.MaxValue, 0.001) === ((1, 32)))
    // a tiny corpus reduces to the pure-threshold chooser: everything
    // is admissible, so the inflection-nearest pair wins as in lshParams
    assert(Dedup.lshParamsFor(32, 0.5, 1L) === ((Dedup.lshParams(32, 0.5))))
  }

  test("minhashNearDupMd5Auto: pairs are exact-Jaccard-verified members of the chosen banding's candidates") {
    val d = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select(col("doc_id"), col("text"))
    val auto = Dedup.minhashNearDupMd5Auto(d, "text", "doc_id", 0.5, 3, 32)
      .as[(Long, Long, Double)].collect().toSeq
    // every emitted pair is a true exact-Jaccard pair with the SAME
    // rounded score — candidates only prune, never re-score
    val exact = Dedup.jaccardJoin(d, "text", "doc_id", 0.0, 3)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("j"))
      .filter(col("j") >= 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val exactMap = exact.map { case (a, b, j) => ((a, b), j) }.toMap
    auto.foreach { case (a, b, j) =>
      assert(exactMap.get((a, b)).contains(j), s"($a,$b,$j)")
    }
    assert(auto.nonEmpty && auto.size <= exact.size)
    // and lshRecallAuto records exactly this trade: its hit count is
    // the auto pair count when truth uses the same threshold family
    val row = Dedup.lshRecallAuto(d, "text", "doc_id", 0.5, 3, 32).head()
    assert(row.getAs[Long]("n_true") === exact.size.toLong)
  }

  test("minhash multi-probe: probe candidates are a superset; verified pairs stay the exact threshold-passing subset; recall never drops") {
    val d = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the xxhash production path: probes only ADD candidates (arm 0 IS
    // the standard banding) — superset at the candidate stage…
    val base = Dedup.minhashCandidates(d, "text", "doc_id", 3, 32, 8)
      .as[(Long, Long)].collect().toSet
    val probed = Dedup.minhashCandidates(d, "text", "doc_id", 3, 32, 8,
        probes = 2)
      .as[(Long, Long)].collect().toSet
    assert(base.subsetOf(probed),
      s"missing from probe set: ${(base -- probed).take(3)}")
    // …and therefore at the verified-pair stage, where every emitted
    // pair still carries the exact rounded Jaccard (the md5 oracle path)
    val autoPairs = Dedup.minhashNearDupMd5Auto(d, "text", "doc_id",
        0.5, 3, 32)
      .as[(Long, Long, Double)].collect().toSet
    val probePairs = Dedup.minhashNearDupMd5Auto(d, "text", "doc_id",
        0.5, 3, 32, probes = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(autoPairs.subsetOf(probePairs))
    val exact = Dedup.jaccardJoin(d, "text", "doc_id", 0.0, 3)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("j"))
      .filter(col("j") >= 0.5).as[(Long, Long, Double)].collect().toSet
    assert(probePairs.subsetOf(exact),
      "a probe arm emitted a pair the exact join does not verify")
    // the recall gate's two arms agree with the two candidate sets:
    // mp recall >= single-probe recall, mp volume >= single-probe volume
    val row = Dedup.lshRecallAuto(d, "text", "doc_id", 0.5, 3, 32,
      probes = 2).head()
    assert(row.getAs[Long]("recall_mp_ppm") >= row.getAs[Long]("recall_ppm"))
    assert(row.getAs[Long]("n_cand_mp") >= row.getAs[Long]("n_cand"))
    assert(row.getAs[Long]("n_hit_mp") >= row.getAs[Long]("n_hit"))
  }

  test("probeStep/probeStepInv: coprime strides, arm 0 = identity, inverses exact for every arm and k") {
    assert(Dedup.probeStep(0, 32) === 1) // identity: arm 0 IS the standard banding
    assert(Dedup.probeStep(1, 32) === 3)
    assert(Dedup.probeStep(2, 32) === 5)
    assert(Dedup.probeStep(1, 6) === 5) // skips non-coprime 2,3,4
    for (arm <- 0 to 3; k <- Seq(2, 6, 16, 32, 64)) {
      val s = Dedup.probeStep(arm, k)
      assert(BigInt(s).gcd(BigInt(k)) == BigInt(1), s"step $s not coprime to $k")
      val inv = Dedup.probeStepInv(arm, k)
      assert(s * inv % k === 1 % k, s"inv($s) mod $k = $inv")
      // the permutation is a bijection of component indices
      assert((0 until k).map(j => j * s % k).toSet.size === k)
    }
  }

  test("groupKFold: co-cluster docs share a fold; folds in range; partition exact") {
    val pairs = Dedup.jaccardJoin(corpus, "text", "doc_id", 0.5, 3)
      .select(col("doc_a"), col("doc_b"))
    val folded = Dedup.groupKFold(corpus, pairs, "doc_id", 3)
      .select(col("doc_id"), col("rep"), col("fold"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(folded.size === 6)
    assert(folded.values.forall { case (_, _, f) => f >= 0L && f < 3L })
    // the 1-2-3 near-dup cluster shares rep AND fold — no straddling
    val cluster = Seq(1L, 2L, 3L).map(folded)
    assert(cluster.map(_._2).toSet === Set(1L))
    assert(cluster.map(_._3).toSet.size === 1)
    // deterministic across reruns
    val again = Dedup.groupKFold(corpus, pairs, "doc_id", 3)
      .select(col("doc_id"), col("rep"), col("fold"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again === folded)
    // the 'fold_' salt genuinely decorrelates the fold stream from the
    // split family's unsalted md5(rep) bucket stream: dropping the salt
    // would make the two assignments identical on EVERY id, so assert
    // they differ somewhere (and folds still cover the full range)
    val wide = (1L to 200L).map(i => (i, s"doc $i unique tokens ${i * 7}"))
      .toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val f200 = Dedup.groupKFold(wide, noPairs, "doc_id", 3)
      .select(col("fold"),
        pmod(Dedup.md5Hash60(col("rep").cast("string")), lit(3L)).as("unsalted"))
    assert(f200.filter(col("fold") =!= col("unsalted")).count() > 0,
      "fold stream must not equal the unsalted bucket stream")
    assert(f200.select("fold").distinct().count() === 3)
  }

  test("canonicalGroups merges case/punctuation/whitespace variants") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "goodbye world")
    ).toDF("doc_id", "text")
    val g = Dedup.canonicalGroups(docs, "text", "doc_id")
      .as[(String, Long, Long)].collect().map { case (_, k, n) => (k, n) }.toSet
    assert(g === Set((1L, 3L), (4L, 1L)))
    // exact grouping keeps all four distinct
    assert(Dedup.exactGroups(docs, "text", "doc_id").count() === 4)
  }

  test("editNearDup finds small-edit pairs and only those") {
    val base = "the quick brown fox jumps over the lazy dog " * 3
    val docs = Seq(
      (1L, "en", base),
      (2L, "en", base.replace("quick", "quik")),   // 1 edit
      (3L, "en", base.reverse),                    // same length, far
      (4L, "de", base),                            // other block: never compared
      (5L, "en", "completely different text")      // different length bucket
    ).toDF("doc_id", "lang", "text")
    // exact semantics with the content band off
    val exact = Dedup.editNearDup(docs, "text", "doc_id", "lang",
        contentBand = false)
      .as[(Long, Long, Int)].collect().toSet
    assert(exact.map(p => (p._1, p._2)) === Set((1L, 2L)))
    assert(exact.head._3 === 3) // one char dropped in each of the 3 repeats
    // the opt-in band is a SUBSET of the exact answer, and the
    // pigeonhole contract holds: any pair whose signatures differ in
    // ≤3 bits is guaranteed kept. (On THIS 27-token fixture the
    // 3-occurrence token swap flips >3 signature bits — tiny documents
    // are exactly where the documented recall caveat bites, and why
    // the exact form is the DEFAULT.)
    val banded = Dedup.editNearDup(docs, "text", "doc_id", "lang",
        contentBand = true)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded.subsetOf(exact))
    val sig = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (a, b, _) =>
      if (java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3)
        assert(banded.exists(p => p._1 == a && p._2 == b),
          s"pigeonhole pair ($a,$b) lost by the band")
    }
  }

  test("memo keys fingerprint the input files: an in-place rewrite is answered afresh") {
    // the index/pair memos key on the canonicalized plan (root path +
    // schema for a file read) PLUS the (path, length, mtime) of every
    // file the read listed: rewriting the same path in place is a new
    // key, with no clearCaches() needed; clearCaches() stays the
    // explicit reset
    val dir = java.nio.file.Files.createTempDirectory("dedup_cache").toString
    val p = s"$dir/docs.parquet"
    def write(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("overwrite").parquet(p)
    def run(): Set[(Long, Long)] =
      Dedup.jaccardJoin(spark.read.parquet(p), "text", "doc_id", 0.5, 3)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    Dedup.clearCaches()
    try {
      write((1L, "aa bb cc dd"), (2L, "aa bb cc dd"))
      assert(run() === Set((1L, 2L)))
      // same path, same schema, different rows: a FRESH spark.read of
      // the rewritten path lists new files, so the memo answers for the
      // NEW corpus
      write((1L, "aa bb cc dd"), (3L, "zz yy xx ww"))
      assert(run() === Set.empty, "in-place rewrite must not hit the old entry")
      // explicit invalidation still answers for the current corpus
      Dedup.clearCaches()
      write((4L, "mm nn oo pp"), (5L, "mm nn oo pp"))
      assert(run() === Set((4L, 5L)))
    } finally Dedup.clearCaches()
  }

  test("memo reuse contract: fresh reads of an unchanged path share one shingle index; a rewrite builds a new one") {
    // a fingerprint that missed on every fresh read would make
    // dropNearDuplicates rebuild the index minhashNearDup just built
    val dir = java.nio.file.Files.createTempDirectory("dedup_reuse").toString
    val p = s"$dir/docs.parquet"
    def write(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("overwrite").parquet(p)
    def index(): org.apache.spark.sql.DataFrame =
      Dedup.hashedShingleIndex(spark.read.parquet(p), "text", "doc_id", 3)
    Dedup.clearCaches()
    try {
      write((1L, "aa bb cc dd"), (2L, "aa bb cc ee"))
      val first = index()
      assert(index() eq first, "two fresh reads of an unchanged path must share the index")
      write((1L, "aa bb cc dd"), (3L, "zz yy xx ww"))
      val rewritten = index()
      assert(!(rewritten eq first), "a rewritten path must build a new index")
      assert(rewritten.select("doc_id").distinct().as[Long].collect().toSet === Set(1L, 3L))
    } finally Dedup.clearCaches()
  }

  test("editNearDup blocking is symmetric in doc id (lower id may be the longer doc)") {
    // doc 1 (lower id) is LONGER and sits one length bucket ABOVE
    // doc 2: len 66 → bucket 2, len 62 → bucket 1. The round-4 form
    // registered the probe side only at {b, b−1} with doc_a < doc_b,
    // so this pair never became a candidate — silent recall loss.
    val docs = Seq(
      (1L, "en", "a" * 66),
      (2L, "en", "a" * 62)
    ).toDF("doc_id", "lang", "text")
    val pairs = Dedup.editNearDup(docs, "text", "doc_id", "lang",
        contentBand = false)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs === Set((1L, 2L, 4)))
  }

  test("abs_diff_sum column equals its HOF aggregate(zip_with) twin, incl. null and mismatch edges") {
    // the counting filter's codegen'd kernel must be indistinguishable
    // from the interpreted HOF formulation it replaced — same values,
    // same null channel (length mismatch or any null element → null)
    val df = Seq(
      (Some(Seq[Option[Int]](Some(1), Some(2), Some(3))),
        Some(Seq[Option[Int]](Some(3), Some(1), Some(7)))),   // plain: 2+1+4
      (Some(Seq.empty[Option[Int]]), Some(Seq.empty[Option[Int]])), // empty → 0
      (Some(Seq[Option[Int]](Some(1), Some(2))),
        Some(Seq[Option[Int]](Some(1)))),                     // mismatch → null
      (Some(Seq[Option[Int]](Some(1), None)),
        Some(Seq[Option[Int]](Some(1), Some(2))))             // null elem → null
    ).toDF("a", "b")
    val both = df.select(
      graft.functions.AbsDiffSum.absDiffSum(col("a"), col("b")).as("k"),
      expr("aggregate(zip_with(a, b, (x, y) -> abs(x - y)), 0, (s, v) -> s + v)").as("h"))
    assert(both.filter(not(col("k") <=> col("h"))).isEmpty)
    assert(both.select(col("k")).as[Option[Int]].collect().toSeq ===
      Seq(Some(7), Some(0), None, None))
  }

  test("editNearDup (exact mode) equals all-pairs brute force on randomized corpora") {
    // the blocking (length buckets, derived radius, (len,id) orientation,
    // counting filter, banded DP) must be INVISIBLE: seeded random
    // corpora over a 3-letter alphabet (forcing plenty of near pairs at
    // many length gaps), compared against a plain quadratic reference
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val fresh = () =>
        (1 to (5 + rnd.nextInt(115))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      def perturb(s: String): String = {
        var t = s
        for (_ <- 0 until (1 + rnd.nextInt(8))) {
          val p = rnd.nextInt(math.max(t.length, 1))
          t = rnd.nextInt(3) match {
            case 0 if t.nonEmpty => t.patch(p, "", 1)                     // delete
            case 1 => t.patch(p, ('a' + rnd.nextInt(3)).toChar.toString, 0) // insert
            case _ if t.nonEmpty => t.updated(math.min(p, t.length - 1),
              ('a' + rnd.nextInt(3)).toChar)                              // substitute
            case _ => t
          }
        }
        t
      }
      val corpus = (1L to 40L).foldLeft(Vector.empty[(Long, String)]) { (acc, id) =>
        // half the docs are small-edit perturbations of an earlier doc
        // (guaranteed true near pairs at assorted length gaps), half are
        // fresh random strings (dense in edit-space over a 3-letter
        // alphabet, stressing the reject paths)
        val text = if (acc.nonEmpty && rnd.nextBoolean())
          perturb(acc(rnd.nextInt(acc.size))._2)
        else fresh()
        acc :+ (id, text)
      }
      val docs = corpus.toDF("doc_id", "text")
        .select(col("doc_id"), lit("xx").as("lang"), col("text"))
      val got = Dedup.editNearDup(docs, "text", "doc_id", "lang",
          contentBand = false)
        .as[(Long, Long, Int)].collect().toSet
      val expected = (for {
        (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
        d = lev(ta, tb)
        budget = math.max(ta.length, tb.length) * 100
        if d <= 64 && d * 1000 <= budget
      } yield (ia, ib, d)).toSet
      assert(got === expected, s"trial $trial")
    }
  }

  test("dropNearDuplicates: schema-preserving, one survivor per cluster, singletons kept") {
    val kept = Dedup.dropNearDuplicates(corpus, "text", "doc_id", 0.5)
    assert(kept.schema === corpus.schema)
    val ids = kept.select(col("doc_id")).as[Long].collect().toSet
    // 1 and 3 are exact duplicates (equal text ⇒ equal score ⇒ min id
    // keeps 1); unrelated 5 and 6 must both survive
    assert(ids.contains(1L) && !ids.contains(3L))
    assert(ids.contains(5L) && ids.contains(6L))
    // survivors are a subset of the corpus with no duplicates
    assert(ids.subsetOf((1L to 6L).toSet))
    assert(kept.count() === ids.size)
  }

  test("bestOfCluster keeps the highest score, min id on ties; singletons pass through") {
    val members = Seq(
      (1L, 1L, 100L), (1L, 2L, 300L), (1L, 3L, 300L), // 2 and 3 tie → keep 2
      (7L, 7L, 50L)                                   // singleton
    ).toDF("cluster_id", "doc_id", "score")
    val out = Dedup.bestOfCluster(members)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 300L, 3L), (7L, 7L, 50L, 1L)))
  }

  test("contaminationRate: leaked eval doc scores 1000, novel scores 0, partial in between") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "alpha beta gamma delta"),           // all 2 shingles in train doc 1 → 1000
      (11L, "nu xi omicron pi rho sigma"),       // fully novel → 0
      // 4 shingles; only "one two three" present → 250
      (12L, "one two three banana apple pear")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationRate(train, eval, "text", "doc_id")
      .select(col("doc_id"), col("contamination_permille"))
      .as[(Long, Long)].collect().toMap
    assert(out === Map(10L -> 1000L, 11L -> 0L, 12L -> 250L))
  }

  test("editNearDupPrefix equals all-pairs brute force, tiny docs included") {
    // the q-gram prefix index (rarest-first positional grams, qτ+1 per
    // doc) must be INVISIBLE: same seeded generator as the exact-mode
    // equivalence test, plus planted sub-q-length docs exercising the
    // t ≤ 0 side channel (identical 1-char docs have no 2-grams yet are
    // a dist-0 pair the contract owes)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val fresh = () =>
        (1 to (5 + rnd.nextInt(115))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      def perturb(s: String): String = {
        var t = s
        for (_ <- 0 until (1 + rnd.nextInt(8))) {
          val p = rnd.nextInt(math.max(t.length, 1))
          t = rnd.nextInt(3) match {
            case 0 if t.nonEmpty => t.patch(p, "", 1)
            case 1 => t.patch(p, ('a' + rnd.nextInt(3)).toChar.toString, 0)
            case _ if t.nonEmpty => t.updated(math.min(p, t.length - 1),
              ('a' + rnd.nextInt(3)).toChar)
            case _ => t
          }
        }
        t
      }
      val grown = (1L to 40L).foldLeft(Vector.empty[(Long, String)]) { (acc, id) =>
        val text = if (acc.nonEmpty && rnd.nextBoolean())
          perturb(acc(rnd.nextInt(acc.size))._2)
        else fresh()
        acc :+ (id, text)
      }
      // planted tiny docs: two identical 1-char docs (a true dist-0 pair
      // with zero 2-grams) and a lone 1-char doc pairing with nothing
      val corpus = grown ++ Vector((97L, "a"), (98L, "a"), (99L, "b"))
      val docs = corpus.toDF("doc_id", "text")
        .select(col("doc_id"), lit("xx").as("lang"), col("text"))
      // guard disabled: the 3-letter alphabet is the guard's target
      // (volume sits near the default bound by design); THIS test is
      // about recall semantics, the guard has its own stress spec
      val got = Dedup.editNearDupPrefix(docs, "text", "doc_id", "lang",
          maxCandidatesPerDoc = Int.MaxValue)
        .as[(Long, Long, Int)].collect().toSet
      val expected = (for {
        (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
        d = lev(ta, tb)
        budget = math.max(ta.length, tb.length) * 100
        if d <= 64 && d * 1000 <= budget
      } yield (ia, ib, d)).toSet
      assert(got === expected, s"trial $trial")
      assert(expected.contains((97L, 98L, 0)), "tiny-doc pair must be in scope")
      // parameter sweep on the same corpus: q and permille must never
      // change the answer beyond the contract's own budget change —
      // q=3 exercises non-default gram width (and the q-wide tiny-doc
      // cutoff), permille=50 the tighter budget the flagship entry uses
      val got3 = Dedup.editNearDupPrefix(docs, "text", "doc_id", "lang",
          maxDistPermille = 50, q = 3, maxCandidatesPerDoc = Int.MaxValue)
        .as[(Long, Long, Int)].collect().toSet
      val expected3 = (for {
        (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
        d = lev(ta, tb)
        budget = math.max(ta.length, tb.length) * 50
        if d <= 64 && d * 1000 <= budget
      } yield (ia, ib, d)).toSet
      assert(got3 === expected3, s"trial $trial (q=3, permille=50)")
    }
  }

  test("editNearDup bucket radius covers the full maxAbsDist length gap") {
    // length gap of exactly maxAbsDist = 64 spans TWO bucketWidth-32
    // buckets (600 → b 18, 664 → b 20): radius is derived from
    // maxAbsDist, not hardwired to one
    val docs = Seq(
      (1L, "en", "a" * 600),
      (2L, "en", "a" * 664)
    ).toDF("doc_id", "lang", "text")
    val pairs = Dedup.editNearDup(docs, "text", "doc_id", "lang",
        contentBand = false)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs === Set((1L, 2L, 64)))
  }

  test("winnowing guarantee: a shared winW+n-1 word run shares a fingerprint") {
    // n=3, winW=4: any shared run of 6 words spans a full hash window,
    // whose selected fingerprint is a function of the run alone — the
    // SIGMOD'03 detection guarantee. The shared run is embedded at
    // DIFFERENT positions in otherwise-disjoint documents.
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three four five six seven $shared"),
      (2L, s"$shared red orange yellow green blue indigo violet"),
      (3L, "entirely disjoint vocabulary nothing matches here at all today")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "text", "doc_id")
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (d, rows) => d -> rows.map(_.getLong(1)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "position-shifted shared run must share a fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    val pairs = Dedup.winnowNearDup(docs, "text", "doc_id",
        minShared = 1, minPermille = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("substringDedupStats merges overlapping spans and skips unique docs") {
    // docs 1 and 2 share a 10-word run → 3 overlapping 8-gram spans
    // each, which must merge into ONE island of 10 words; doc 3 has no
    // duplicated gram and must be absent
    val run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, s"a b c $run"),
      (2L, s"$run x y z"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedupStats(docs, "text", "doc_id")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, a, b, c) => d -> ((a, b, c)) }.toMap
    assert(got.keySet === Set(1L, 2L))
    val (spans1, words1, permille1) = got(1L)
    assert(spans1 === 1L && words1 === 10L && permille1 === (1000L * 10 / 13))
    assert(got(2L) === ((1L, 10L, 1000L * 10 / 13)))
  }

  test("substringRemoval keeps one canonical copy and the re-run reports zero dup spans") {
    val run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, s"a b c $run"),
      (2L, s"$run x y z"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
      (4L, run) // entirely a duplicated run — may drop out fully
    ).toDF("doc_id", "text")
    val out = Dedup.substringRemoval(docs, "text", "doc_id")
    val m = out.as[(Long, String)].collect().toMap
    // exactly ONE of docs 1/2/4 keeps the run (the md5-order canonical);
    // the doc-3 unique text survives untouched
    assert(m(3L) === "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")
    val keepers = m.filter(_._2.contains("w1 w2 w3 w4 w5 w6 w7 w8"))
    assert(keepers.size === 1, s"canonical copies: $keepers")
    // the curation contract: detection on the OUTPUT finds nothing
    assert(Dedup.substringDedupStats(out, "text", "doc_id").count() === 0L)
    // every surviving doc's non-duplicated words survive: doc 1 kept its
    // prefix or its run, never lost both
    assert(m(1L).startsWith("a b c"))
    assert(m(2L).endsWith("x y z"))
  }

  test("decontaminationRemoval cuts leaked spans; output contaminates at 0") {
    val leak = "b1 b2 b3 b4 b5 b6 b7 b8" // the benchmark sentence
    val train = Seq(
      (1L, s"t1 t2 t3 $leak t4 t5"), // embeds the leak mid-document
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"), // clean
      (3L, leak) // IS the leak — drops out entirely
    ).toDF("doc_id", "text")
    val eval = Seq((100L, s"q1 q2 $leak q3")).toDF("doc_id", "text")
    val out = Dedup.decontaminationRemoval(train, eval, "text", "doc_id")
    val m = out.as[(Long, String)].collect().toMap
    assert(m === Map(1L -> "t1 t2 t3 t4 t5",
      2L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
    // the release gate: the cut output contaminates eval at 0 under the
    // SAME l-gram containment (8-word shingles)
    val rate = Dedup.contaminationRate(out, eval, "text", "doc_id", n = 8)
      .select(col("contamination_permille")).as[Long].collect()
    assert(rate.forall(_ === 0L), rate.toSeq.toString)
  }

  test("stratifiedSplit: exact largest-remainder counts, no doc lost") {
    // 7 docs in one stratum: 800/100/100 → bases 5/0/0, remainders
    // 600/700/700 → two leftover seats go to val and test (largest
    // remainders) → 5/1/1
    val docs = (1L to 7L).map(i => (i, "en")).toDF("doc_id", "lang")
    val got = Dedup.stratifiedSplit(docs, "lang", "doc_id")
    assert(got.count() === 7L)
    val counts = got.groupBy("split").count().as[(String, Long)]
      .collect().toMap
    assert(counts === Map("train" -> 5L, "val" -> 1L, "test" -> 1L))
    // determinism: same input → same assignment
    val a = got.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val b = Dedup.stratifiedSplit(docs, "lang", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(a === b)
  }

  test("containmentJoin: embedded short doc flags at 1.0 where Jaccard misses it") {
    import spark.implicits._
    val short = "q r s t u v"
    val long = ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 " +
      short + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")
    val docs = Seq((1L, long), (2L, short), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    val c = Dedup.containmentJoin(docs, "text", "doc_id", 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    // every shingle of the short doc appears in the long one
    assert(c === Seq((1L, 2L, 1.0)))
    // the same pair is invisible to Jaccard at any usable threshold
    val j = Dedup.jaccardJoin(docs, "text", "doc_id", 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assert(j.isEmpty)
  }

  test("sourceOverlap: short docs shingle truncated (not dropped); identical sets score 1e6 ppm") {
    import spark.implicits._
    // both sources hold shingle sets {"a b", "x y z"} — including the
    // sub-n truncated shingle, which must carry overlap signal
    val docs = Seq((1L, "a b", "s1"), (2L, "a b", "s2"),
      (3L, "x y z", "s1"), (4L, "x y z", "s2"),
      (5L, "p q r", "s3")).toDF("doc_id", "text", "source")
    val r = Dedup.sourceOverlap(docs, "text", "source")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(r === Seq(("s1", "s2", 2L, 1000000L)))
  }

  test("lshRecall: identical pair always collides; coarse single-band misses the moderate pair") {
    import spark.implicits._
    // (1,2) identical (j=1); (3,4) share shingles {abc,bcd} of 10 (j=0.2)
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"), (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "a b c d e f g h"), (4L, "a b c d x y z q"))
      .toDF("doc_id", "text")
    // coarse banding: ONE band of all 32 components — only identical
    // signatures collide, so the moderate pair is invisible and recall
    // is exactly half the truth set
    val coarse = Dedup.lshRecall(docs, "text", "doc_id", 0.1, 3, 32, 1).head()
    assert((coarse.getAs[Long]("n_true"), coarse.getAs[Long]("n_cand"),
      coarse.getAs[Long]("n_hit"), coarse.getAs[Long]("recall_ppm"),
      coarse.getAs[Long]("precision_ppm")) ===
      ((2L, 1L, 1L, 500000L, 1000000L)))
    // …and at ONE band of all 32 components every probe arm's single
    // band also holds all components (permuted), so the mp arm matches
    // exactly the identical pair too — no phantom recall from probes
    assert(coarse.getAs[Long]("n_hit_mp") === 1L &&
      coarse.getAs[Long]("recall_mp_ppm") === 500000L)
    // fine banding recalls at least the identical pair and never emits
    // more hits than candidates or truth; the mp arm dominates the base
    val fine = Dedup.lshRecall(docs, "text", "doc_id", 0.1, 3, 32, 16).head()
    val (nt, nc, nh) = (fine.getAs[Long]("n_true"), fine.getAs[Long]("n_cand"),
      fine.getAs[Long]("n_hit"))
    assert(nt === 2L && nh >= 1L && nh <= nc && nh <= nt &&
      fine.getAs[Long]("recall_ppm") >= 500000L)
    assert(fine.getAs[Long]("n_hit_mp") >= nh &&
      fine.getAs[Long]("n_cand_mp") >= nc)
  }
}
