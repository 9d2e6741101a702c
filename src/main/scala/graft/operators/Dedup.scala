package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators over a document corpus — the LLM-training-data
  * slice of the engine (north-star mandate; the reference itself has no
  * analog, being a KV comparator — its nearest concept is the
  * whole-corpus equality check, `checksum/checksum.go:173-178`, which
  * dedup generalizes from "are two corpora identical" to "which rows
  * within one corpus are (near-)identical").
  *
  * Scale design (100 TB):
  *  - exact dedup groups on a 128-bit content hash, never on the full
  *    text — the shuffle moves 16-byte keys, not document bodies;
  *  - near-dup is LSH-banded (MinHash / SimHash chunks): candidates come
  *    from equi-joins on small band hashes, so the plan is a sequence of
  *    hash-partitioned joins — NO all-pairs cross join anywhere;
  *  - exact-Jaccard verification runs only on the candidate set;
  *  - the inverted-index Jaccard join prunes by shingle document
  *    frequency (a hot shingle shared by half the corpus generates
  *    quadratic candidate pairs; drop shingles with df > maxDf, which
  *    only ever *removes* near-constant shingles that carry no
  *    similarity signal).
  */
object Dedup {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles. Documents shorter than n tokens
    * produce one shingle holding all their tokens. Backed by the
    * codegen'd single-pass [[graft.functions.WordShinglesExpr]] — the
    * HOF formulation ([[shinglesHof]]) is interpreted and dominated the
    * dedup index build; DedupSpec asserts the two are identical. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Shingles.wordShingles(text, n)

  /** The higher-order-function twin of [[shingles]] (reference
    * semantics; kept for the equivalence spec). */
  def shinglesHof(text: Column, n: Int): Column = {
    val w = tokens(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(w) - lit(n - 1), lit(1))),
        i => concat_ws(" ", slice(w, i, lit(n)))))
  }

  /** Exact dedup groups: one row per distinct content, keyed by a
    * 128-bit md5 content fingerprint (grouping on the hash, not the
    * body). Output: (fp, keep_doc_id = min id, dup_count). */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("fp"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Bag-of-words dedup groups: documents equal up to token order and
    * multiplicity (sorted distinct token set) are one group. */
  def bagGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(
        md5(array_join(array_sort(array_distinct(split(col(textCol), " "))), " ")
          .cast("binary")).as("fp"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** The deduplicated corpus itself: keep the min-id row per exact
    * content (deterministic survivor rule). */
  def dropExactDuplicates(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** The shared hashed-shingle inverted index: one (doc_id, t) row per
    * distinct shingle per document, where `t = xxhash64(shingle)` — the
    * shuffle currency is 8-byte longs, never n-gram text (a cross-shingle
    * hash collision perturbs one intersection count with probability
    * ~|shingles|²/2^65 — negligible). Materialized eagerly
    * (localCheckpoint) because every consumer — per-doc set sizes, the
    * inverted-index self-join, MinHash signatures, exact candidate
    * verification — would otherwise re-run the explode+hash pipeline per
    * reference (the round-2 jaccard join recomputed it 4×, which was
    * most of its bench time).
    *
    * Memoized per (corpus, textCol, idCol, n) by [[Memo]]: a curation
    * pipeline runs several dedup stages (exact-Jaccard join,
    * MinHash-LSH, connected components) over ONE corpus, and at scale
    * you materialize the index once and fan the stages out from it —
    * the same materialize-once policy KVSnapshot applies to the KV
    * snapshots. */
  def hashedShingleIndex(docs: DataFrame, textCol: String, idCol: String,
                         n: Int): DataFrame =
    indexMemo(docs, textCol, idCol, n)(buildShingleIndex(docs, textCol, idCol, n))

  private def buildShingleIndex(docs: DataFrame, textCol: String, idCol: String,
                                n: Int): DataFrame =
    // repartition by id BEFORE the explode (the buildMd5Signatures
    // lesson): the shingle explode + hash inherit the INPUT's
    // partitioning — a single-file corpus serializes the index build
    // on one scan task otherwise. Explicit partition count: AQE's
    // byte-driven coalescing would merge the ~1 MB doc-row exchange
    // back to one partition, blind to the explode's work amplification
    docs.repartition(fanOutWidth(docs), col(idCol))
      .select(col(idCol).as("doc_id"), explode(shingles(col(textCol), n)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("t"))
      .localCheckpoint()

  /** Fan-out width for the explicit pre-explode repartitions (the r16
    * REPARTITION_BY_NUM sites, scale-guarded in r17): an explicit count
    * is exempt from AQE coalescing in BOTH directions, so a bare
    * `defaultParallelism` — right for the single-file sandbox corpus —
    * would on a real cluster FORCE a thousands-partitions-wide corpus
    * scan down to one-partition-per-core, capping the explode-amplified
    * gram/shingle/signature build and discarding the input's width. The
    * rule: width = max(defaultParallelism, the scan's own split count),
    * the latter estimated PLAN-TIME ONLY (optimizer statistics ÷
    * `spark.sql.files.maxPartitionBytes` — for a file source the stats
    * are the pruned file bytes; no job, no RDD materialization), capped
    * at 2^20 so a join-inflated estimate cannot demand an absurd
    * exchange. At the benched SFs the corpus is one small file, so the
    * width stays exactly defaultParallelism and the sf0.1 plans are
    * unchanged (FanOutWidthSpec pins both directions). */
  private[graft] def fanOutWidth(df: DataFrame): Int = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    val splits = try {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val maxSplit = math.max(
        df.sparkSession.sessionState.conf.filesMaxPartitionBytes, 1L)
      (bytes / maxSplit).min(BigInt(1 << 20)).max(BigInt(0)).toInt
    } catch { case _: Throwable => 0 }
    math.max(dp, splits)
  }

  /** The shingle-index memo ([[hashedShingleIndex]]) and the
    * verified-pair memo ([[cachedPairs]]): a curation pipeline consumes
    * ONE corpus's verified similarity pairs from several operators (the
    * thresholded join itself, connected components over it), and at
    * scale you materialize the pair set once and fan out. Checkpoint
    * blocks are non-replicated: after losing an executor,
    * [[clearCaches]] is the recovery hook. */
  private val indexMemo = new Memo[DataFrame](8)
  private val pairMemo = new Memo[DataFrame](8)

  /** Drop every memoized shingle index, verified-pair frame and corpus
    * count. The dropped frames' checkpoint blocks are reclaimed by the
    * ContextCleaner once unreferenced; in-flight consumers of a
    * previously returned frame are unaffected (they hold their own
    * reference). */
  def clearCaches(): Unit = {
    indexMemo.clear()
    pairMemo.clear()
    CorpusCount.clear()
  }

  /** MinHash signatures: k independent permutation-minima approximated
    * by `min over shingles of xxhash64(seed_j, hashedShingle)`, computed
    * as k grouped min-aggregates over the shared index: the mins
    * partial-aggregate map-side and the plan stays inside whole-stage
    * codegen. (The naive single-projection form — k ×
    * array_min(transform(...)) — inlines the shingle subtree k times
    * into one giant expression and ran two orders of magnitude slower.)
    * Output: (doc_id, sig array<long>). */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        n: Int, k: Int): DataFrame =
    signaturesOnIndex(hashedShingleIndex(docs, textCol, idCol, n), k)

  private def signaturesOnIndex(tok: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(j => min(xxhash64(lit(j), col("t"))).as(s"__m$j"))
    tok.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(j => col(s"__m$j")): _*).as("sig"))
  }

  /** LSH candidate pairs: split the k-long signature into `bands` bands
    * of k/bands rows, hash each band, and equi-join docs sharing a
    * (band, hash) bucket. Deterministic (xxhash64), banded — never
    * all-pairs. The banded frame is materialized once (localCheckpoint)
    * so the bucket SELF-JOIN doesn't recompute the signature aggregation
    * per side; pairs come out of the join — not out of expanding each
    * bucket's combinations inside one task — so a degenerate bucket
    * (e.g. a fully duplicated corpus) costs shuffle rows that AQE's
    * skew handling splits, never one task's memory. */
  def minhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, k: Int = 64, bands: Int = 16,
                        probes: Int = 0): DataFrame =
    candidatesOnIndex(hashedShingleIndex(docs, textCol, idCol, n), k, bands,
      probes)

  /** Multi-probe band PERMUTATION step for arm `arm` (arm 0 = 1, the
    * identity): the arm-th positive integer coprime to k, so
    * i ↦ (i·step) mod k is a bijection of the component indices and
    * each arm re-bands the SAME k-component signature along a
    * different arithmetic-progression grouping. Probe bands draw their
    * r components from ACROSS the standard bands, so the extra OR
    * clauses decorrelate from the standard ones (a rotation-style
    * probe was measured useless: it shares r−1 of r components with a
    * standard band, so a pair that missed every standard band almost
    * always misses the rotation too). THE one definition both the
    * xxhash production path and the oracle-replayed md5 path use. */
  private[graft] def probeStep(arm: Int, k: Int): Int =
    Iterator.from(1).filter(s => BigInt(s).gcd(BigInt(k)) == 1)
      .drop(arm).next()

  /** Modular inverse of [[probeStep]](arm, k) mod k — the constant the
    * DuckDB replay embeds to map component i back to its band slot
    * ((i·inv) mod k = the slot whose (slot·step) mod k = i). k = 1 is
    * the degenerate single-component signature (slot always 0). */
  private[graft] def probeStepInv(arm: Int, k: Int): Int =
    if (k == 1) 0
    else {
      val s = probeStep(arm, k) % k
      (1 until k).find(x => x * s % k == 1).getOrElse(
        throw new IllegalStateException(s"no inverse of $s mod $k"))
    }

  private def candidatesOnIndex(tok: DataFrame, k: Int, bands: Int,
                                probes: Int = 0): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    require(probes >= 0, "probes must be >= 0")
    val r = k / bands
    val sig = signaturesOnIndex(tok, k)
    // multi-probe = EXTRA BANDS AT HELD OCCUPANCY (the MinHash analog
    // of Similarity.crossCandidates' Hamming-1 expansion, r13 verdict
    // task 3): each probe arm re-bands the SAME k-component signature
    // at the same depth r along a different coprime-stride permutation
    // (probeStep) — another bands-wide OR layer with identical
    // per-band collision probability s^r but near-independent
    // membership, so recall rises toward 1-(1-s^r)^(bands·(probes+1))
    // while per-bucket occupancy (and so pairs-per-row of the
    // self-join) is unchanged. The adaptive chooser DEEPENS bands as
    // corpora grow, which raises the miss rate for borderline-τ pairs
    // — probes is the recall knob that buys it back at a ×(probes+1)
    // candidate-volume cost. probes=0 is exactly the historical
    // single-banding plan (no extra columns).
    val arms: Seq[Column] = (0 to probes).flatMap { arm =>
      if (arm == 0)
        (0 until bands).map(b => xxhash64(lit(b), slice(col("sig"), b * r + 1, r)))
      else {
        val step = probeStep(arm, k)
        (0 until bands).map(b => xxhash64(lit(arm * bands + b),
          array((0 until r).map(j => col("sig")((b * r + j) * step % k)): _*)))
      }
    }
    val banded = sig.select(col("doc_id"), posexplode(array(arms: _*)))
      .toDF("doc_id", "band_id", "band_hash")
      .localCheckpoint()
    banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** MinHash near-dup pairs, verified: LSH candidates filtered by EXACT
    * shingle Jaccard >= threshold. The LSH stage only prunes; every
    * emitted pair is exactly verified — intersection counts come from
    * joining the candidate list back onto the hashed-shingle index
    * (8-byte longs), union from per-doc set sizes; the shingle STRING
    * arrays never travel (the round-2 form shipped both docs' full
    * string arrays per candidate). A candidate pair sharing zero
    * shingles (possible only via a seeded band-hash collision) drops out
    * of the inner join — correct, its Jaccard is 0. */
  def minhashNearDup(docs: DataFrame, textCol: String, idCol: String,
                     threshold: Double, n: Int = 3, k: Int = 64,
                     bands: Int = 16, probes: Int = 0): DataFrame = {
    val tok = hashedShingleIndex(docs, textCol, idCol, n)
    val cand = candidatesOnIndex(tok, k, bands, probes)
    val sz = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("t")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("t")), Seq("doc_b", "t"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    jaccardFromCounts(inter, sz, threshold)
  }

  /** Exact n-gram Jaccard similarity join via inverted index: join doc
    * lists per hashed shingle (intersection counts), derive union from
    * per-doc set sizes. SQL-expressible — the oracle twin runs the same
    * unnest/join in DuckDB. `maxDf` drops shingles present in more than
    * maxDf documents from the CANDIDATE self-join only (set sizes keep
    * every shingle): a shingle shared by much of the corpus generates
    * df² candidate rows while carrying no similarity signal, so the cap
    * is what bounds the self-join at 100×-corpus scale; pass
    * Int.MaxValue to disable. */
  def jaccardJoin(docs: DataFrame, textCol: String, idCol: String,
                  threshold: Double, n: Int = 3,
                  maxDf: Int = Int.MaxValue): DataFrame =
    cachedPairs(docs, textCol, idCol, n, s"jac:$threshold:$maxDf") {
      val (inter, sz) = prunedIntersections(docs, textCol, idCol, n, maxDf)
      jaccardFromCounts(inter, sz, threshold)
    }

  /** The df-capped inverted-index intersection build shared by
    * [[jaccardJoin]] and [[containmentJoin]]: per-doc set sizes keep
    * EVERY shingle, the candidate self-join prunes shingles with
    * df > `maxDf` — one definition of that semantics repo-wide.
    * Returns (inter(doc_a < doc_b, i), sz(doc_id, n_sh)). */
  private def prunedIntersections(docs: DataFrame, textCol: String,
                                  idCol: String, n: Int,
                                  maxDf: Int): (DataFrame, DataFrame) = {
    val tok0 = hashedShingleIndex(docs, textCol, idCol, n)
    val sz = tok0.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val tok =
      if (maxDf == Int.MaxValue) tok0
      else {
        val keep = tok0.groupBy(col("t")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select(col("t"))
        tok0.join(keep, Seq("t"))
      }
    val inter = tok.select(col("t"), col("doc_id").as("doc_a"))
      .join(tok.select(col("t"), col("doc_id").as("doc_b")), Seq("t"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    (inter, sz)
  }

  /** [[pairMemo]] lookup-or-build for a verified-pair frame of the
    * corpus under a parameter `tag` — the memo policy every
    * pair-producing operator shares. */
  private def cachedPairs(docs: DataFrame, textCol: String, idCol: String,
                          n: Int, tag: String)
                         (build: => DataFrame): DataFrame =
    pairMemo(docs, textCol, idCol, n, tag)(build.localCheckpoint())

  /** Decontamination: flag TRAIN documents whose shingles cover an
    * EVAL/benchmark document above a containment threshold — the
    * test-set-leakage scrub of a training pipeline, as a CROSS-corpus
    * twin of [[jaccardJoin]]. Both corpora reduce to hashed-shingle
    * indexes; the equi-join on the 8-byte shingle hash counts
    * per-(train, eval) intersections; the score is CONTAINMENT
    * `i / |eval shingles|` rather than symmetric Jaccard — a short
    * benchmark item embedded verbatim in a long training document must
    * flag at 1.0, where Jaccard would dilute it toward 0. At scale the
    * eval index is orders of magnitude smaller and broadcasts (hinted),
    * so the training corpus is never shuffled for the join; there is no
    * self-join anywhere. Output: (train_id, eval_id, containment ≥
    * threshold), 6-dp rounded like the rest of the family. */
  def decontaminate(train: DataFrame, eval: DataFrame, textCol: String,
                    idCol: String, threshold: Double, n: Int = 3): DataFrame = {
    val tTok = hashedShingleIndex(train, textCol, idCol, n)
    val eTok = hashedShingleIndex(eval, textCol, idCol, n)
    val eSz = eTok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_eval"))
    val inter = tTok.select(col("t"), col("doc_id").as("train_id"))
      .join(broadcast(eTok.select(col("t"), col("doc_id").as("eval_id"))), Seq("t"))
      .groupBy(col("train_id"), col("eval_id")).agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(eSz.select(col("doc_id").as("eval_id"), col("n_eval"))), Seq("eval_id"))
      .select(col("train_id"), col("eval_id"),
        round(col("i").cast("double") / col("n_eval").cast("double"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Train→eval contamination RATE: for every eval document, the share
    * of its distinct n-gram shingles that appear ANYWHERE in the train
    * corpus, in exact integer permille — the corpus-level overlap
    * metric an eval release reports, where [[decontaminate]] reports
    * per-(train,eval) pair containment for actionable removal. A 0
    * means fully novel; 1000 means every shingle is trained-on (the
    * doc is fully leaked even if no single train doc contains it all).
    *
    * Scale shape: the train side collapses to its DISTINCT shingle set
    * (hash-partitioned aggregate over the memoized index — never
    * broadcast: at 100 TB the train shingle universe is the biggest
    * object in the query), the eval index equi-joins it on the shingle
    * hash, and the fraction is exact integer arithmetic. */
  def contaminationRate(train: DataFrame, eval: DataFrame, textCol: String,
                        idCol: String, n: Int = 3): DataFrame = {
    val tSet = hashedShingleIndex(train, textCol, idCol, n)
      .select(col("t")).distinct()
    val eTok = hashedShingleIndex(eval, textCol, idCol, n)
    val eSz = eTok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val hits = eTok.join(tSet, Seq("t"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    eSz.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("contamination_permille", expr("hits * 1000 DIV n_shingles"))
  }

  /** Incremental near-dup: match a NEW document batch against an
    * EXISTING corpus — the dedup analog of `Checksum.applyDelta`'s
    * O(delta) re-verification. A growing corpus ingests batches
    * continuously; re-running [[jaccardJoin]] over corpus ∪ batch pays
    * the corpus's self-join again per batch, when the only NEW pairs are
    * (new × corpus) and (new × new) — this operator computes exactly
    * those. The corpus's hashed-shingle index is the standing artifact
    * ([[hashedShingleIndex]] memoizes it), the small batch index
    * broadcasts into the intersection join, and the corpus is never
    * self-joined and never reshuffled per batch.
    *
    * `maxDf` caps the CORPUS-side document frequency (mirroring
    * [[jaccardJoin]]: sizes keep every shingle, only the candidate join
    * is pruned) — corpus df is what multiplies per new-batch shingle.
    * Output: (doc_new, doc_old, jaccard >= threshold) over new × corpus
    * pairs, plus new × new pairs via the batch's own [[jaccardJoin]]
    * when `withinBatch` is set. */
  def deltaJaccardJoin(newDocs: DataFrame, corpus: DataFrame, textCol: String,
                       idCol: String, threshold: Double, n: Int = 3,
                       maxDf: Int = Int.MaxValue,
                       withinBatch: Boolean = false): DataFrame = {
    val newTok = hashedShingleIndex(newDocs, textCol, idCol, n)
    val oldTok = hashedShingleIndex(corpus, textCol, idCol, n)
    val szNew = newTok.groupBy(col("doc_id")).agg(count(lit(1)).as("nn"))
    val szOld = oldTok.groupBy(col("doc_id")).agg(count(lit(1)).as("no"))
    val oldPruned =
      if (maxDf == Int.MaxValue) oldTok
      else oldTok.join(
        oldTok.groupBy(col("t")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select(col("t")), Seq("t"))
    val inter = oldPruned.select(col("t"), col("doc_id").as("doc_old"))
      .join(broadcast(newTok.select(col("t"), col("doc_id").as("doc_new"))), Seq("t"))
      .groupBy(col("doc_new"), col("doc_old")).agg(count(lit(1)).as("i"))
    val cross = inter
      .join(broadcast(szNew.select(col("doc_id").as("doc_new"), col("nn"))), Seq("doc_new"))
      .join(szOld.select(col("doc_id").as("doc_old"), col("no")), Seq("doc_old"))
      .select(col("doc_new"), col("doc_old"),
        (col("i").cast("double") /
         (col("nn") + col("no") - col("i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (!withinBatch) cross
    else cross.unionAll(
      jaccardJoin(newDocs, textCol, idCol, threshold, n, maxDf)
        .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"),
          col("jaccard")))
  }

  /** jaccard = i / (|a| + |b| - i) from an intersection-count frame
    * (doc_a, doc_b, i) and a size frame (doc_id, n_sh), thresholded. */
  private def jaccardFromCounts(inter: DataFrame, sz: DataFrame,
                                threshold: Double): DataFrame =
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
         (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Asymmetric containment join — the subsumption case symmetric
    * Jaccard structurally misses: a short document embedded verbatim in
    * a long one (a quoted paragraph, a syndicated article inside a
    * digest) has Jaccard ≈ |short|/|long| → 0 but containment
    * |A∩B|/|B| = 1. The within-corpus twin of [[decontaminate]]'s
    * cross-corpus containment, over the same df-capped inverted index
    * as [[jaccardJoin]] — intersections from the hashed-shingle
    * equi-join, normalized by the CONTAINED side's set size, emitted
    * directionally (container, contained). The canonical consumer
    * drops contained docs. 6-dp rounding like the family. Output:
    * (container_id, contained_id, containment ≥ threshold). */
  def containmentJoin(docs: DataFrame, textCol: String, idCol: String,
                      threshold: Double, n: Int = 3,
                      maxDf: Int = Int.MaxValue): DataFrame =
    cachedPairs(docs, textCol, idCol, n, s"cont:$threshold:$maxDf") {
      val (inter0, sz) = prunedIntersections(docs, textCol, idCol, n, maxDf)
      val inter = inter0
        .join(sz.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
        .join(sz.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      // each unordered pair yields up to two directed rows; a pair of
      // identical sets emits both directions (mutual containment)
      val aContainsB = inter.select(col("doc_a").as("container_id"),
        col("doc_b").as("contained_id"),
        round(col("i").cast("double") / col("nb").cast("double"), 6).as("containment"))
      val bContainsA = inter.select(col("doc_b").as("container_id"),
        col("doc_a").as("contained_id"),
        round(col("i").cast("double") / col("na").cast("double"), 6).as("containment"))
      aContainsB.unionAll(bContainsA).filter(col("containment") >= threshold)
    }

  /** Connected components over a near-dup pair graph: every document in
    * a pair gets `cluster_id = min doc_id reachable` — the canonical
    * survivor of its duplicate cluster.
    *
    * Each round combines (a) min-label propagation over edges with (b)
    * POINTER JUMPING — every node also adopts its current label's label
    * (`labels[labels[n]]`), halving representative-path lengths — so
    * convergence takes O(log diameter) rounds, not O(diameter): a
    * 1000-node transitive-drift chain (a→b→c→…, the worst case for
    * plain propagation) finishes in ~10 rounds. ONE job per round: the
    * round's frame is checkpoint-marked lazily and the changed-label
    * count is the action that materializes it, so the convergence check
    * rides the same job instead of a second scheduler round-trip per
    * iteration (round 3 paid 2 jobs × ~10 rounds of pure latency).
    * Non-convergence raises rather than returning partial labels.
    * Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id). */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jump: label ← min(label, labels[label]); labels[label]
      // always exists (labels are node ids of the same frame)
      val next = stepped
        .join(labels.select(col("node").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("node"), col("old"),
          least(col("label"), coalesce(col("jump"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
      // this count is the materializing action: every partition persists
      // its checkpoint blocks in the same job that folds the changed count
      converged = next.filter(col("label") =!= col("old")).count() == 0L
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Curation keeper rule: within each near-dup cluster keep the
    * HIGHEST-scoring member (smallest doc id on score ties) instead of
    * an arbitrary min-id representative — a duplicate cluster usually
    * holds one clean copy and several OCR- or boilerplate-damaged
    * variants, and id-based retention throws the clean copy away
    * whenever it sorts later. `members`: (cluster_id, doc_id, score).
    * Output per cluster: (cluster_id, keep_doc_id, best_score,
    * n_members) via a grouped struct-argmax over (score, −doc_id) —
    * lexicographic max, partial-aggregated map-side; no window, no
    * join, one shuffle of one small struct per cluster. */
  def bestOfCluster(members: DataFrame): DataFrame =
    members.groupBy(col("cluster_id"))
      .agg(max(struct(col("score").as("s"), (-col("doc_id")).as("ni"))).as("b"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("b.ni")).as("keep_doc_id"),
        col("b.s").as("best_score"), col("n_members"))

  /** One-call fuzzy dedup — the kept corpus itself. Composes the
    * pipeline a curation run wires by hand: [[jaccardJoin]] (df-capped
    * candidates + exact verify) → [[nearDupClusters]] (pointer-jumping
    * components) → [[bestOfCluster]] (score-argmax keeper, min id on
    * ties; default score = [[TextAnalysis.qualityPpm]]), then a
    * left-semi join restricts the ORIGINAL rows to the keepers —
    * schema-preserving, so it drops into any pipeline. Singletons keep
    * themselves; every stage is the already-audited distributed shape,
    * and the jaccard is rounded to 6 dp before thresholding so the
    * keep-set is bit-stable cross-engine. */
  def dropNearDuplicates(docs: DataFrame, textCol: String, idCol: String,
                         threshold: Double, shingleN: Int = 3,
                         maxDf: Int = Int.MaxValue,
                         scoreCol: Option[Column] = None): DataFrame = {
    val score = scoreCol.getOrElse(TextAnalysis.qualityPpm(col(textCol)))
    val pairs = jaccardJoin(docs, textCol, idCol, 0.0, shingleN, maxDf)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("j"))
      .filter(col("j") >= threshold)
    val members = docs.select(col(idCol).as("doc_id"), score.as("score"))
      .join(nearDupClusters(pairs), Seq("doc_id"), "left_outer")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("doc_id"), col("score"))
    val keep = bestOfCluster(members).select(col("keep_doc_id"))
    docs.join(keep, col(idCol) === col("keep_doc_id"), "left_semi")
  }

  /** Content-defined chunking: split each document at positions where
    * the `w`-char rolling polynomial hash (Horner fold mod 1e9+7 — the
    * same hash family as [[graft.operators.TextAnalysis.rollingHash]])
    * is ≡ 0 mod `divisor`, giving chunks of ~`divisor` expected length.
    * Boundaries depend only on the local `w`-char window, so an edit
    * early in a document shifts at most one chunk boundary — the
    * property that makes CDC chunk fingerprints find PARTIAL copies
    * (shared passages) that document-level signatures miss. All
    * arithmetic is integer → bit-exact in any engine (the DuckDB oracle
    * replays the identical Horner fold per window).
    *
    * Implemented as a typed per-record kernel (flatMap, the
    * per-partition-imperative escape hatch also used for the multimodal
    * feature extractor): the rolling hash advances in O(1) per position
    * (subtract the outgoing char's 31^{w-1} term, multiply, add), and a
    * column-expression formulation of a per-position windowed fold is
    * a nested higher-order function that Catalyst can only interpret —
    * measured ~0.2 s PER ROW against microseconds for this kernel.
    * Output: (doc_id, chunk_no, fp = md5(chunk), chunk_len). */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
                w: Int = 16, divisor: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      // a row without an id or text has no chunks — exclude it up front
      // instead of letting the typed decode NPE inside a task (same
      // contract as Pack.assignBins)
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        cdcChunkKernel(text, w, divisor).zipWithIndex.map { case ((fp, len), i) =>
          (id, i, fp, len)
        }
      }
      .toDF("doc_id", "chunk_no", "fp", "chunk_len")
  }

  /** The per-document CDC kernel: chunk (md5-hex, length) pairs in
    * order. Positions are 1-based over BMP chars (= codepoints for the
    * corpus); a cut after position p means chars [start+1, p] form a
    * chunk. */
  private[operators] def cdcChunkKernel(text: String, w: Int,
                                        divisor: Int): Seq[(String, Int)] = {
    val M = 1000000007L
    val cs = text.toCharArray
    val n = cs.length
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n > w) {
      // 31^(w-1) mod M for the outgoing-char term
      var p31 = 1L
      var j = 0
      while (j < w - 1) { p31 = p31 * 31L % M; j += 1 }
      // Horner hash of the first window (chars 1..w)
      var h = 0L
      var i = 0
      while (i < w) { h = (h * 31L + cs(i).toLong) % M; i += 1 }
      var p = w // 1-based window end
      while (p <= n - 1) {
        if (h % divisor == 0) bounds += p
        // roll to window ending at p+1: drop cs(p-w), take cs(p) (0-based)
        h = (((h - cs(p - w).toLong * p31 % M) % M + M) % M * 31L + cs(p).toLong) % M
        p += 1
      }
    }
    val starts = 0 +: bounds.toSeq
    val ends = bounds.toSeq :+ n
    val md = java.security.MessageDigest.getInstance("MD5")
    starts.zip(ends).map { case (s, e) =>
      val chunk = text.substring(s, e)
      md.reset()
      val hex = md.digest(chunk.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (hex, chunk.length)
    }
  }

  /** 60-bit token hash both Spark and the DuckDB oracle compute exactly:
    * the leading 15 hex digits of md5(token), parsed base-16. Used by
    * the oracle-checked SimHash entries; [[simhash]]'s default xxhash64
    * is the faster in-engine path (hash quality is equivalent — both are
    * uniform — but xxhash64 has no DuckDB twin). */
  def md5Hash60(t: Column): Column =
    graft.functions.Md5Hash60.md5Hash60(t)

  /** Oracle-replayable MinHash signature: component i is the minimum
    * over the document's shingles of the salted 60-bit md5 hash
    * (`mh<i>_<shingle>`). One explode + one grouped k-way min — fully
    * partial-aggregated, so signatures cost a single shuffle of
    * (doc_id, k longs) regardless of corpus size. The production
    * signatures inside [[minhashNearDup]] ride the xxhash64 shingle
    * index instead (faster, no string re-hash); THIS form exists so
    * the estimator itself (matching components / k ≈ Jaccard) can be
    * hash-checked against DuckDB, not just its candidates. */
  def minhashSignatureMd5(docs: DataFrame, textCol: String, idCol: String,
                          n: Int, k: Int): DataFrame =
    // MEMOIZED like the shingle index (through the ONE shared
    // [[cachedPairs]] policy — r13 ADVICE: the inline twin of that
    // helper was two copies of the cache discipline to keep in sync):
    // the k·shingles salted md5s are the dedup gate family's dominant
    // CPU, and three oracle-gated consumers build signatures over the
    // SAME corpus in one session (the banded candidates behind
    // lshRecallAuto/minhashNearDupMd5Auto, and the estimator gate) — a
    // doc's signature doesn't depend on the rest of the corpus, so one
    // full-corpus frame serves every consumer's slice.
    cachedPairs(docs, textCol, idCol, n, s"md5sig:$k") {
      buildMd5Signatures(docs, textCol, idCol, n, k)
    }

  private def buildMd5Signatures(docs: DataFrame, textCol: String,
                                 idCol: String, n: Int, k: Int): DataFrame = {
    // repartition by id BEFORE the explode: the k salted md5s per
    // shingle are the dominant CPU and inherit the INPUT's partitioning
    // — a single-file corpus would serialize the whole hash build on
    // one scan task (measured 10.8 s → the shuffle of raw doc rows is
    // noise next to k×shingles hashes). Explicit partition count (r16):
    // AQE's byte-driven coalescing saw the ~1 MB doc-row exchange and
    // merged it back toward one partition, blind to the k×shingles
    // work amplification behind the explode (REPARTITION_BY_NUM is
    // exempt from coalescing).
    val tok = docs
      .repartition(fanOutWidth(docs), col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("t"))
    val mins = (0 until k).map(i =>
      min(graft.functions.Md5Hash60.md5Hash60(col("t"), s"mh${i}_")).as(s"m$i"))
    tok.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Analytic LSH banding chooser — the config derivation that turns a
    * target similarity threshold into (bands, rowsPerBand) BEFORE the
    * empirical [[lshRecall]] gate confirms it: the banding S-curve's
    * inflection sits at t(b, r) ≈ (1/b)^(1/r) (Leskovec–Rajaraman–
    * Ullman ch.3), so pick the divisor pair of k whose threshold lands
    * nearest `tau`, breaking ties toward MORE bands (higher recall at
    * the same candidate budget is the safer default for dedup, where a
    * missed near-dup is worse than a wasted verification). Driver-side
    * integer arithmetic over the ≤ d(k) divisors — nothing distributed
    * to tune. */
  def lshParams(k: Int, tau: Double): (Int, Int) = {
    require(k > 0, "k must be positive")
    require(tau > 0.0 && tau < 1.0, "tau must be in (0, 1)")
    val best = (1 to k).filter(k % _ == 0)
      .map { b => (b, k / b, math.pow(1.0 / b, 1.0 / (k / b))) }
      .minBy { case (b, _, t) => (math.abs(t - tau), -b) }
    (best._1, best._2)
  }

  /** Occupancy-adaptive banding chooser — [[lshParams]] with the corpus
    * size in the loop (the [[graft.operators.Similarity.srpBandsFor]]
    * discipline brought to MinHash): at FIXED band depth the candidate
    * volume of the banded self-join grows superlinearly with the corpus
    * (every sub-threshold pair collides with probability ≈ b·s₀^r, and
    * there are ~n²/2 of them — BENCH_SF1 measured 4.0× runtime at 10×
    * rows for the fixed (64,32) banding), so ADMISSIBILITY here bounds
    * the expected background collisions per document:
    * b · n · s₀^r ≤ targetOccupancy, with s₀ = τ/2 the
    * "clearly-below-threshold" reference similarity. Among admissible
    * divisor pairs of k the S-curve inflection (1/b)^(1/r) nearest τ
    * wins, ties toward MORE bands (recall-favoring, as in
    * [[lshParams]]); a corpus too large for ANY divisor gets the
    * deepest banding (b = 1, r = k) — the signature budget k is then
    * the binding constraint (raise k). Pure IEEE-double predicates
    * (pow/abs, no logs), so the DuckDB oracle replays the choice
    * bit-exactly. The recall this trades away at each depth is exactly
    * what [[lshRecall]] records — chooser and gate ship together. */
  def lshParamsFor(k: Int, tau: Double, n: Long,
                   targetOccupancy: Double = 16.0): (Int, Int) = {
    require(k > 0, "k must be positive")
    require(tau > 0.0 && tau < 1.0, "tau must be in (0, 1)")
    require(targetOccupancy > 0.0, "targetOccupancy must be positive")
    val s0 = tau / 2.0
    val pairs = (1 to k).filter(k % _ == 0).map(r => (k / r, r))
    val admissible = pairs.filter { case (b, r) =>
      b.toDouble * math.max(n, 1L).toDouble * math.pow(s0, r) <=
        targetOccupancy
    }
    val pool = if (admissible.nonEmpty) admissible else Seq((1, k))
    pool.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - tau), -b)
    }
  }

  /** [[minhashNearDup]] with the banding CHOSEN from the corpus size
    * ([[lshParamsFor]]): one count() of the corpus — a scalar-wide
    * pass — buys the occupancy-held banding that keeps the candidate
    * self-join near-linear as corpora grow instead of the measured 4×
    * at 10× rows of a fixed width. Production (xxhash64) signature
    * path; the md5 twin [[minhashNearDupMd5Auto]] is the oracle-gated
    * form, and [[lshRecall]] (routed through the same chooser) records
    * the recall each chosen depth trades away. */
  def minhashNearDupAuto(docs: DataFrame, textCol: String, idCol: String,
                         threshold: Double, n: Int = 3, k: Int = 64,
                         targetOccupancy: Double = 16.0,
                         probes: Int = 0): DataFrame = {
    val (bands, _) = lshParamsFor(k, threshold, CorpusCount.of(docs),
      targetOccupancy)
    minhashNearDup(docs, textCol, idCol, threshold, n, k, bands, probes)
  }

  /** The md5-signature banded candidate pairs ([[lshRecall]]'s
    * candidate stage, factored): band key = the r components joined as
    * a string (both engines print longs identically), candidates from
    * the banded self-join, DISTINCT, never all-pairs. MEMOIZED through
    * the pair cache: the rollout gate ([[lshRecallAuto]]) and the
    * gated near-dup ([[minhashNearDupMd5Auto]]) run in the same
    * session over the same corpus with the SAME chooser — the k-salted
    * md5 signature mass (the family's dominant cost, ~10 s at sf0.1)
    * is paid once, not per consumer. */
  private def md5BandedCandidates(docs: DataFrame, textCol: String,
                                  idCol: String, n: Int, k: Int,
                                  bands: Int, probes: Int = 0): DataFrame =
    cachedPairs(docs, textCol, idCol, n, s"md5band:$k:$bands:$probes") {
      md5BandedCandidatesBuild(docs, textCol, idCol, n, k, bands, probes)
    }

  private def md5BandedCandidatesBuild(docs: DataFrame, textCol: String,
                                       idCol: String, n: Int, k: Int,
                                       bands: Int, probes: Int = 0): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    require(probes >= 0, "probes must be >= 0")
    val r = k / bands
    val sig = minhashSignatureMd5(docs, textCol, idCol, n, k)
    // probe arms = coprime-stride re-bandings of the one memoized
    // signature frame (see candidatesOnIndex's doc): arm 0 is the
    // standard banding (step 1), arm p groups components along the
    // stride-probeStep(p, k) progression. Band key = the r components
    // joined as a string in slot order — the DuckDB twin embeds each
    // arm's modular-inverse constant (probeStepInv) and string_aggs in
    // the same (i·inv) mod k slot order, so the candidate stage stays
    // exactly replayable at every probe count.
    val arms: Seq[Column] = (0 to probes).flatMap { arm =>
      val step = probeStep(arm, k)
      (0 until bands).map(b =>
        concat_ws("_", (0 until r).map(j => col(s"m${(b * r + j) * step % k}")): _*))
    }
    val banded = sig.select(col("doc_id"), posexplode(array(arms: _*)))
      .toDF("doc_id", "band_id", "bk")
      .localCheckpoint()
    banded.select(col("band_id"), col("bk"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band_id"), col("bk"), col("doc_id").as("doc_b")),
        Seq("band_id", "bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** The ORACLE-GATED adaptive near-dup: md5-signature candidates
    * (exactly replayable in DuckDB, unlike the xxhash production
    * signatures) banded by [[lshParamsFor]], then the SAME exact
    * shingle-Jaccard verification as [[minhashNearDup]]. Because the
    * oracle replays the CANDIDATE stage too — chooser, signatures,
    * band keys, bucket join — equality holds at every corpus size by
    * construction, not because the fixture's pairs happen to sit far
    * above threshold: a boundary pair the chosen banding misses is
    * missed identically by both engines. */
  def minhashNearDupMd5Auto(docs: DataFrame, textCol: String, idCol: String,
                            threshold: Double, n: Int = 3, k: Int = 32,
                            targetOccupancy: Double = 16.0,
                            probes: Int = 0): DataFrame = {
    val (bands, _) = lshParamsFor(k, threshold, CorpusCount.of(docs),
      targetOccupancy)
    val cand = md5BandedCandidates(docs, textCol, idCol, n, k, bands, probes)
    val tok = hashedShingleIndex(docs, textCol, idCol, n)
    val sz = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("t")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("t")), Seq("doc_b", "t"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    // threshold the ROUNDED jaccard (the family's 6-dp output form):
    // the oracle filters its rounded jac CTE the same way, so a
    // boundary pair cannot pass one engine and fail the other
    jaccardFromCounts(inter, sz, 0.0)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[lshRecall]] with the banding CHOSEN by [[lshParamsFor]] — the
    * rollout gate and the chooser it licenses, wired together: the
    * recorded recall/precision now tracks what the ADAPTIVE banding
    * actually ships at this corpus size, not a fixed width's number. */
  def lshRecallAuto(docs: DataFrame, textCol: String, idCol: String,
                    threshold: Double, n: Int = 3, k: Int = 32,
                    maxDf: Int = Int.MaxValue,
                    targetOccupancy: Double = 16.0,
                    probes: Int = 2): DataFrame = {
    val (bands, _) = lshParamsFor(k, threshold, CorpusCount.of(docs),
      targetOccupancy)
    lshRecall(docs, textCol, idCol, threshold, n, k, bands, maxDf, probes)
  }

  /** LSH banding-parameter rollout gate — the dedup-family analog of
    * [[graft.operators.Similarity.recallAtK]]: against the EXACT
    * df-capped Jaccard truth set (pairs with rounded j >= `threshold`),
    * measure what the (k, bands) banding of the md5 MinHash signatures
    * recovers and at what candidate volume — and, since r14, what the
    * MULTI-PROBE rotated-band expansion buys back (the SRP side's
    * bitextSrpRecall discipline brought to MinHash). Output is ONE row —
    * (n_true, n_cand, n_hit, recall_ppm, precision_ppm, n_cand_mp,
    * n_hit_mp, recall_mp_ppm, precision_mp_ppm), integer ppm so
    * the gate is corpus-size-independent — the number you check before
    * switching a 100 TB dedup run from exact-join truth to banded
    * candidates (too few bands silently drops near-dups; too many
    * explodes candidate volume — this measures BOTH sides of that
    * trade). Band bucket key = the r signature components joined as a
    * string (both engines print longs identically), so the bucket
    * equi-join is exactly replayable; candidate generation is the
    * banded self-join (never all-pairs), truth comes from the already
    * df-capped [[jaccardJoin]], and the three counts reduce to 1-row
    * frames — nothing here is corpus-quadratic beyond what the gated
    * operators themselves do. */
  def lshRecall(docs: DataFrame, textCol: String, idCol: String,
                threshold: Double, n: Int = 3, k: Int = 32,
                bands: Int = 16, maxDf: Int = Int.MaxValue,
                probes: Int = 2): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val truth = jaccardJoin(docs, textCol, idCol, 0.0, n, maxDf)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("j"))
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    // BOTH arms off the one memoized signature frame, like
    // bitextSrpRecall: the single-probe candidate set (what a probes=0
    // production run ships) and the multi-probe expansion — the
    // candidate-volume COST of the probe arms (n_cand_mp vs n_cand)
    // recorded right next to the recall they buy back.
    val cand = md5BandedCandidates(docs, textCol, idCol, n, k, bands)
    val candMp = md5BandedCandidates(docs, textCol, idCol, n, k, bands, probes)
    def counts(c: DataFrame, cN: String, hN: String): DataFrame =
      c.agg(count(lit(1)).as(cN)).crossJoin(
        c.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as(hN)))
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(counts(cand, "n_cand", "n_hit")))
      .crossJoin(broadcast(counts(candMp, "n_cand_mp", "n_hit_mp")))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_true > 0 THEN CAST(n_hit * 1000000 div n_true AS BIGINT) END")
          .as("recall_ppm"),
        expr("CASE WHEN n_cand > 0 THEN CAST(n_hit * 1000000 div n_cand AS BIGINT) END")
          .as("precision_ppm"),
        col("n_cand_mp"), col("n_hit_mp"),
        expr("CASE WHEN n_true > 0 THEN CAST(n_hit_mp * 1000000 div n_true AS BIGINT) END")
          .as("recall_mp_ppm"),
        expr("CASE WHEN n_cand_mp > 0 THEN CAST(n_hit_mp * 1000000 div n_cand_mp AS BIGINT) END")
          .as("precision_mp_ppm"))
  }

  /** Cross-source overlap matrix — the corpus-governance artifact that
    * answers "which sources mirror each other" (Common-Crawl dumps vs
    * their re-packagings, a vendor feed vs the crawl it scraped): for
    * every source pair, the Jaccard of the sources' DISTINCT shingle
    * sets, as integer ppm. Before a mixing run this is what stops you
    * double-weighting the same underlying text because it arrives
    * under two source names.
    *
    * Scale: the corpus reduces to distinct (source, shingle-hash)
    * pairs; the self-join cost is Σ over shingles of C(df_src, 2) ≤
    * C(S, 2) per shingle — bounded by the SOURCE count, not the
    * corpus, so no df cap is needed at any corpus size (sources are
    * thousands at most; it is document frequency that explodes, and
    * source-distinctness collapses it). Output: (src_a < src_b,
    * n_shared, jaccard_ppm), ordered by overlap. */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
                    n: Int = 3): DataFrame = {
    val tok = docs.select(col(srcCol).as("src"),
        explode(shingles(col(textCol), n)).as("t"))
      .select(col("src"), xxhash64(col("t")).as("h"))
      .distinct()
      .localCheckpoint()
    val sz = tok.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val inter = tok.select(col("h"), col("src").as("src_a"))
      .join(tok.select(col("h"), col("src").as("src_b")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(sz.select(col("src").as("src_a"), col("n").as("na"))), Seq("src_a"))
      .join(broadcast(sz.select(col("src").as("src_b"), col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("i").as("n_shared"),
        expr("CAST(i * 1000000 div (na + nb - i) AS BIGINT)").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("src_a"), col("src_b"))
  }

  /** SimHash per document: hash each token once, then for every bit
    * position sum +1/-1 contributions across tokens (with multiplicity);
    * bit b of the signature is 1 iff the sum is positive. One explode +
    * one `bits`-column grouped agg — fully partial-aggregated. */
  def simhash(docs: DataFrame, textCol: String, idCol: String,
              bits: Int = 64,
              tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("t"))
      .select(col("doc_id"), tokenHash(col("t")).as("h"))
    val bitSums = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b"))
    val summed = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(b =>
        when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    summed.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: band the `bits`-bit signature into four
    * bits/4-wide chunks; by pigeonhole any pair within Hamming distance
    * 3 shares at least one exact chunk, so an equi-join per chunk finds
    * ALL such pairs (exact, not probabilistic); verify with
    * bit_count(xor).
    *
    * `maxChunkDf` caps the per-chunk-value document frequency in the
    * CANDIDATE join (the direct analog of [[jaccardJoin]]'s `maxDf`):
    * a chunk space of only 2^(bits/4) values means bucket occupancy
    * grows linearly with the corpus, and the self-join materializes
    * Σ df² rows per value — at 100×-corpus scale a popular chunk
    * value holds millions of documents. Dropping values with df >
    * maxChunkDf bounds the join at df²·maxChunkDf²-free cost; a true
    * pair is lost ONLY if every one of its agreeing chunks is hot
    * (it still surfaces through any of its other ≤3 chunks), so the
    * cap trades bounded recall on pathological buckets for a join
    * that survives the scale-up. Pass Int.MaxValue to disable. */
  def simhashNearDup(docs: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 3, bits: Int = 64,
                     tokenHash: Column => Column = xxhash64(_),
                     maxChunkDf: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole covers Hamming <= 3")
    require(bits % 4 == 0, "signature must split into 4 equal chunks")
    val cb = bits / 4
    val mask = (1L << cb) - 1L
    val sig = simhash(docs, textCol, idCol, bits, tokenHash)
    val chunked0 = sig.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("simhash"), c * cb).bitwiseAND(lit(mask))): _*)))
      .toDF("doc_id", "simhash", "chunk_id", "chunk")
    val chunked =
      if (maxChunkDf == Int.MaxValue) chunked0
      else {
        // materialize the chunked signatures ONCE (the shingle-index
        // pattern): without this, the df pass and the candidate join
        // each recompute the full simhash aggregation upstream of
        // chunked0 — the df cap's r5 cost was exactly that second pass.
        // The checkpointed frame is 4 small columns × 4N rows; both
        // consumers read it from local blocks.
        val mat = chunked0.localCheckpoint()
        val keep = mat.groupBy(col("chunk_id"), col("chunk"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxChunkDf)
          .select(col("chunk_id"), col("chunk"))
        mat.join(keep, Seq("chunk_id", "chunk"))
      }
    val a = chunked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = chunked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Leakage-free train/validation/test assignment: split by the
    * near-dup CLUSTER representative, not the document — if two
    * documents are near-duplicates, hashing doc ids independently puts
    * them on opposite sides of the train/eval fence with probability
    * 2·p·(1−p), and the eval set silently overlaps training data. Every
    * member of a cluster shares its representative (the cluster's min
    * label from [[nearDupClusters]]; singletons represent themselves),
    * so a whole cluster lands in ONE split, deterministically
    * (content-stable md5 bucket of the representative — no rand()).
    * One left join against the (small) cluster labels + a projection. */
  def leakFreeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                    trainPct: Int = 90, validationPct: Int = 5): DataFrame = {
    val bucket = pmod(md5Hash60(col("rep").cast("string")), lit(100L))
    withClusterRep(docs, pairs, idCol)
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + validationPct, "validation")
          .otherwise("test"))
  }

  /** THE cluster-representative attachment, shared by [[leakFreeSplit]]
    * and [[groupKFold]] so the two assignment families can never
    * disagree on cluster membership: one left join against the (small)
    * [[nearDupClusters]] labels, `rep` = cluster min (singletons
    * represent themselves). */
  private def withClusterRep(docs: DataFrame, pairs: DataFrame,
                             idCol: String): DataFrame = {
    val clusters = nearDupClusters(pairs)
      .select(col("doc_id").as("__cid"), col("cluster_id").as("__clu"))
    docs.join(clusters, docs(idCol) === col("__cid"), "left")
      .withColumn("rep", coalesce(col("__clu"), docs(idCol)))
      .drop("__cid", "__clu")
  }

  /** Leakage-safe K-fold assignment — the cross-validation counterpart
    * of [[leakFreeSplit]] (sklearn's GroupKFold with near-dup clusters
    * as the groups): fold = content-stable md5 bucket of the cluster
    * REPRESENTATIVE mod k, so two near-duplicate documents can never
    * straddle a fold boundary and a k-fold eval never validates on a
    * paraphrase of its own training shard. Same shape as the split:
    * one left join against the (small) cluster labels + a projection;
    * singletons represent themselves. The `fold_` salt keeps this hash
    * stream independent of the split's bucket stream, so running both
    * on one corpus doesn't correlate fold and split membership.
    * Output: input columns + (rep, fold ∈ [0, k)). */
  def groupKFold(docs: DataFrame, pairs: DataFrame, idCol: String,
                 k: Int): DataFrame = {
    require(k >= 2, "k must be at least 2")
    withClusterRep(docs, pairs, idCol)
      .withColumn("fold",
        pmod(md5Hash60(concat(lit("fold_"), col("rep").cast("string"))),
          lit(k.toLong)))
  }

  /** Canonical text form for fuzzy-exact dedup: casefold, strip
    * non-alphanumerics (unicode letters/digits survive), collapse
    * whitespace runs, trim. Catches the near-universal "same document,
    * different capitalization/punctuation/spacing" duplicate class that
    * exact hashing misses and MinHash wastes a candidate-verify round
    * on. Pure codegen'd string expressions. */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N} ]", " "), " +", " "))

  /** Exact dedup groups on the canonical form — same output contract as
    * [[exactGroups]] (fp, keep_doc_id, dup_count), same 16-byte-key
    * shuffle; only the fingerprinted bytes differ. */
  def canonicalGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(canonicalText(col(textCol)).cast("binary")).as("fp"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Edit-distance (Levenshtein) near-duplicate pairs — the
    * character-level member of the near-dup family (MinHash sees token
    * sets, SimHash sees weighted token vectors; edit distance is the
    * right lens for OCR noise, typo clusters, and template fill-ins).
    *
    * Candidate-then-verify like its siblings: candidates are blocked on
    * (`blockCol`, length-bucket, SimHash-chunk) equi-joins. Length
    * blocking is EXACT: a pair within the distance cap differs by at
    * most `maxAbsDist` in length, and pairs are oriented by
    * (length, id) — the shorter document is always the probe side — so
    * the longer side registering at buckets {b−radius … b}, with
    * `radius` DERIVED from maxAbsDist/bucketWidth, covers every legal
    * length gap in either direction (the previous id-oriented form
    * registered only {b−1, b} and silently missed pairs whose lower-id
    * member was the longer document). The quadratic O(len²) DP verify
    * runs only inside blocks. Unlike the hash families the verify must
    * ship document BODIES to the join — that is intrinsic to edit
    * distance; the blocking exists precisely to bound how many bodies
    * meet.
    *
    * The CONTENT band (`contentBand`, default OFF — exact recall is the
    * default contract, matching `simhashNearDup`'s opt-in chunk-df cap;
    * scale callers opt in) divides block sizes
    * by ~2^(bandBits/4): both sides additionally carry their SimHash
    * signature split into 4 chunks, and the join requires one exact
    * chunk match. Without it, a (block, length-bucket) bucket's
    * occupancy grows linearly with the corpus and the join output
    * quadratically — the content band is what keeps candidate growth
    * linear at 100× scale. Recall contract: by pigeonhole the band
    * keeps EVERY pair whose signatures differ in ≤3 bits; a small edit
    * perturbs few token votes, so edit-near pairs almost always
    * qualify, but a pathological edit that flips ≥4 signature bits
    * spread over all 4 chunks can be missed (short documents, where a
    * few edited tokens swing many bit votes, are the risk case — which
    * is why exactness is the default).
    * `maxDistPermille` keeps pairs whose distance ≤ maxlen·d/1000. */
  def editNearDup(docs: DataFrame, textCol: String, idCol: String,
                  blockCol: String, bucketWidth: Int = 32,
                  maxDistPermille: Int = 100, maxAbsDist: Int = 64,
                  contentBand: Boolean = false, bandBits: Int = 64,
                  tokenHash: Column => Column = xxhash64(_),
                  maxBucketOccupancy: Int = 10000): DataFrame = {
    val budget = greatest(col("len_a"), col("len_b")) * maxDistPermille
    editNearDupCandidates(docs, textCol, idCol, blockCol, bucketWidth,
      maxDistPermille, maxAbsDist, contentBand, bandBits, tokenHash,
      maxBucketOccupancy)
      // banded DP: the threshold variant fills only the 2k+1 diagonal
      // band (O(k*n), not O(n^2)) and returns -1 past the cap — on
      // ~300-char docs that is ~5x fewer cells, and the verify stage is
      // where all the time goes once blocking has done its job. The cap
      // makes the contract dist <= min(budget, maxAbsDist); callers
      // with very long documents and a permille budget above the cap
      // must raise maxAbsDist explicitly.
      // EvalOnce: without the barrier the filter is folded into the
      // join condition with `dist` re-expanded — the DP then runs up to
      // 3× per candidate (OPTIMIZATION_r16.md, guide §4.4). LevCapped:
      // the builtin threshold levenshtein computes the full O(n·m)
      // matrix (~12 ms per near pair on 1.8k-char docs, LevProbe); the
      // banded + prefix/suffix-stripped kernel is 12.8× faster and
      // bit-identical (LevCappedSpec)
      .withColumn("dist", graft.functions.EvalOnce.evalOnce(
        graft.functions.LevCapped.levCapped(col("t_a"), col("t_b"), maxAbsDist)))
      .filter(col("dist") >= 0 && col("dist") * 1000 <= budget)
      // emitted pairs stay id-ordered regardless of the length
      // orientation the join used
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("dist"))
  }

  /** [[editNearDup]]'s CANDIDATE stage — blocking, counting-filter,
    * band-agreement dedup — without the DP verify: the seam the sf1
    * ritual's pair telemetry counts (candidate growth is this family's
    * superlinear term, so the ritual records it per round). */
  private[graft] def editNearDupCandidates(
      docs: DataFrame, textCol: String, idCol: String,
      blockCol: String, bucketWidth: Int = 32,
      maxDistPermille: Int = 100, maxAbsDist: Int = 64,
      contentBand: Boolean = false, bandBits: Int = 64,
      tokenHash: Column => Column = xxhash64(_),
      maxBucketOccupancy: Int = 10000): DataFrame = {
    // Occupancy guard for the exact (band-off) default: a (block,
    // length-bucket) join bucket of occupancy m materializes ~m²/2
    // candidate pairs, so a naive caller scaling the corpus 100× would
    // silently go quadratic where the banded path stays linear. Rather
    // than documenting the footgun, refuse it: one cheap count pass
    // over (block, bucket) — no text, no probe counts — fails fast with
    // the fix (enable contentBand) when any bucket exceeds the bound.
    // The banded path divides occupancy by ~2^(bandBits/4) by
    // construction and skips the check; Int.MaxValue disables.
    if (!contentBand && maxBucketOccupancy != Int.MaxValue) {
      val hot = docs
        .select(col(blockCol).as("blk"),
          (length(col(textCol)) / bucketWidth).cast("long").as("b"))
        .groupBy(col("blk"), col("b")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") > maxBucketOccupancy)
        .orderBy(col("occ").desc).limit(3).collect()
      if (hot.nonEmpty)
        throw new IllegalStateException(
          s"editNearDup exact mode: (block, length-bucket) occupancy exceeds " +
          s"$maxBucketOccupancy — worst: " +
          hot.map(r => s"(${r.get(0)}, ${r.get(1)})=${r.getLong(2)}").mkString(", ") +
          s". The exact self-join would be quadratic in these buckets; enable " +
          s"contentBand=true (pigeonhole SimHash band, ~2^(bandBits/4) occupancy cut) " +
          s"or raise maxBucketOccupancy explicitly.")
    }
    // cheap counting-filter probes, computed ONCE per document before
    // the join: a single edit changes at most two characters' counts by
    // one each, so Σ_probe |cntₐ(c) − cnt_b(c)| ≤ 2·dist for ANY char
    // subset — a linear-time lower bound that discharges the vast
    // majority of candidate pairs before the O(len²) DP runs. (The DP
    // is ~10⁴× a char count; without this the verify stage, not the
    // blocking, is what breaks first as blocks grow.)
    def cnts(src: Column): Column = editProbeCounts(src)
    // any emitted pair has dist <= maxAbsDist (the banded-DP cap), and
    // |len_a - len_b| <= dist, so the longer doc's bucket exceeds the
    // shorter's by at most floor((W-1 + maxAbsDist)/W) = radius
    val radius = (maxAbsDist - 1) / bucketWidth + 1
    val base = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(textCol).as("t"), length(col(textCol)).as("len"))
      .withColumn("b", expr(s"len DIV $bucketWidth"))
      .withColumn("pc", cnts(col("t")))
    // each document carries 4 (chunk_id, chunk) band rows (or one
    // constant row when the band is off): the join requires one exact
    // chunk agreement, and a pair agreeing on several chunks is
    // de-duplicated before the DP
    val d =
      if (!contentBand)
        base.withColumn("chunk_id", lit(0)).withColumn("chunk", lit(0L))
      else {
        require(bandBits % 4 == 0, "bandBits must split into 4 chunks")
        val cb = bandBits / 4
        val mask = (1L << cb) - 1L
        val sig = simhash(docs, textCol, idCol, bandBits, tokenHash)
          .select(col("doc_id").as("id"), col("simhash"))
        base.join(sig, Seq("id"))
          .select(col("blk"), col("id"), col("t"), col("len"), col("b"), col("pc"),
            posexplode(array((0 until 4).map(c =>
              shiftright(col("simhash"), c * cb).bitwiseAND(lit(mask))): _*)))
          .withColumnRenamed("pos", "chunk_id")
          .withColumnRenamed("col", "chunk")
      }
    val l = d.select(col("blk"), col("b"), col("chunk_id"), col("chunk"),
      col("id").as("id_a"), col("t").as("t_a"), col("len").as("len_a"),
      col("pc").as("pc_a"))
    // orient every pair by (length, id): the probe side is the SHORTER
    // document, so the longer side registering under buckets
    // {b−radius … b} covers every legal length gap symmetrically in
    // doc id — the join key carries the length bucket AND the content
    // chunk, not just the block, or every document of a block would
    // meet every other and the blocking would be decorative
    val r = d.select(col("blk").as("blk_r"), col("chunk_id").as("cid_r"),
        col("chunk").as("chunk_r"), col("id").as("id_b"), col("t").as("t_b"),
        col("len").as("len_b"), col("pc").as("pc_b"),
        explode(sequence(col("b") - radius, col("b"))).as("reg"))
    val budget = greatest(col("len_a"), col("len_b")) * maxDistPermille
    // spread the verify stage: when the probe side broadcasts (small
    // corpora / the common one-file-per-table layout), the join output
    // inherits the LEFT side's partitioning — for a single-file scan
    // that is ONE task running every DP. doc ids are uniform, so
    // repartitioning the left by id fans the pair work across the
    // cluster without touching the join keys.
    val lp = l.repartition(l.sparkSession.sparkContext.defaultParallelism, col("id_a"))
    val cand = lp.join(r, col("blk") === col("blk_r") && col("chunk_id") === col("cid_r") &&
        col("chunk") === col("chunk_r") && col("b") === col("reg") &&
        (col("len_a") < col("len_b") ||
          (col("len_a") === col("len_b") && col("id_a") < col("id_b"))))
      // counting filter first (linear scan), DP only on survivors: the
      // bound says dist >= sum/2, so sum * 500 > budget (= maxlen *
      // permille) proves dist * 1000 > budget without running the DP.
      // Codegen'd single-pass kernel — the HOF aggregate(zip_with(...))
      // twin is interpreted and allocates per CANDIDATE PAIR (the same
      // hot path that motivated the dot-product kernel); the column-
      // level kernel ≡ HOF equivalence (incl. null / length-mismatch
      // edges) is pinned in DedupSpec, the JVM fold in DotFoldSpec
      .filter(
        graft.functions.AbsDiffSum.absDiffSum(col("pc_a"), col("pc_b")) * 500
          <= budget)
    // a pair agreeing on several band chunks reaches the join once per
    // agreement — collapse before the DP so each pair pays one verify.
    // Band off ⇒ one constant chunk per doc ⇒ no duplicates possible,
    // and the dedup's full-row (texts included) shuffle is skipped.
    if (contentBand) cand.dropDuplicates("id_a", "id_b") else cand
  }

  /** Probe characters for the edit-distance counting filter — frequent
    * English letters plus space, so most real text pairs get a
    * non-trivial lower bound. Shared by both edit-near-dup paths. */
  private val editProbes = Seq('e', 't', 'a', 'o', 'i', 'n', 's', ' ')

  /** Per-character occurrence counts of the probe set, as one array
    * column: a single edit changes at most two characters' counts by one
    * each, so Σ_probe |cntₐ(c) − cnt_b(c)| ≤ 2·dist for ANY char subset
    * — a linear-time lower bound that discharges the vast majority of
    * candidate pairs before the O(len·k) DP runs. */
  private def editProbeCounts(src: Column): Column = array(editProbes.map(c =>
    (length(src) - length(regexp_replace(src, java.util.regex.Pattern.quote(c.toString), "")))): _*)

  /** Edit-distance near-dup with EXACT recall at scale: positional
    * q-gram PREFIX filtering (the ED-Join candidate shape) in place of
    * [[editNearDup]]'s opt-in SimHash content band.
    *
    * Why another path: `editNearDup`'s exact mode goes quadratic inside
    * a hot (block, length-bucket) — the occupancy guard refuses it — and
    * its banded mode is linear but sacrifices the recall guarantee (a
    * pathological edit flipping ≥4 signature bits can be missed). This
    * operator is BOTH: candidates come from equi-joins whose buckets are
    * the corpus-wide RAREST q-grams of each document, and the recall is
    * exact by two classical theorems, not a pigeonhole heuristic:
    *
    *  - count filter (Gravano et al., VLDB'01): ed(a,b) ≤ τ implies the
    *    positional q-gram BAGS share ≥ t = (max(len)−q+1) − q·τ grams —
    *    each edit destroys at most q grams of the longer side;
    *  - prefix filter (Chaudhuri et al., ICDE'06): under ANY global
    *    total order of the gram universe, two sets sharing ≥ t elements
    *    intersect within their (size − t + 1)-prefixes. Both sides'
    *    required prefixes are ≤ q·τ + 1 elements.
    *
    * Bag semantics ride set machinery by tagging the k-th occurrence of
    * a gram inside a document as element (gram, k): the tagged SET
    * intersection equals the positional-gram bag intersection. The
    * global order is (document frequency, gram, occ) ascending — any
    * total order is correct; rarest-first makes bucket occupancy small
    * BY CONSTRUCTION (a hot template gram shared by the whole corpus has
    * maximal df, so it sorts last and never enters a prefix — the same
    * df-vs-occupancy exchange `jaccardJoin`'s maxDf cap performs, but
    * obtained here without dropping signal). A duplicate CLUSTER of m
    * identical docs still meets in one bucket and emits its m²/2 true
    * pairs — that cost is the answer, not the index.
    *
    * Scale shape (100 TB): one gram pass (Σ len rows, materialized once
    * and reused for the df table and the prefix selection — the
    * `buildShingleIndex` memo lesson), one df aggregation, one per-doc
    * top-(qτ+1) window partitioned by doc id, one hash-partitioned
    * self-join on (block, gram, occ, length-bucket) — the register side
    * carries the bucket under editNearDup's radius scheme, so even a
    * SMALL-ALPHABET corpus where no gram is rare gets its gram buckets
    * divided by the length spread, and each role registers only the
    * prefix ITS theorem bound requires (the longer role's is smaller) —
    * then the shared counting-filter → banded-DP verify on DISTINCT
    * candidate pairs only. Document bodies never ride the gram index —
    * they are re-joined by id once per survivor side, so the wide
    * shuffle currency is (id, gram) pairs, not texts. No cross join,
    * no quadratic bucket, no recall loss.
    *
    * Pairs whose overlap threshold t ≤ 0 are invisible to any gram
    * filter (the bound is vacuous — e.g. two identical 1-char docs have
    * no 2-grams). t ≤ 0 forces the LONGER side's length under
    * q·τ + q − 1 ≤ q·maxAbsDist + q − 1, a constant: docs at most that
    * long route through an unconditional per-block all-pairs side
    * channel. At the default (permille=100, q=2) the cutoff is length 1
    * — the channel is empty on any real corpus.
    *
    * CHOOSING q (measured, BENCH_SF1.md): linearity requires the q-gram
    * universe to dwarf the corpus gram mass (|Σ|^q ≫ Σ len) — on a
    * 62-symbol corpus, q=2 (universe 3.8k) measures quadratic volume
    * growth while q=4 (universe 1.4e7) holds a FLAT 59 candidates/doc
    * across a 10× scale-up. q never affects correctness, only volume;
    * the guard converts a too-small q into a fail-fast naming the rule.
    *
    * Output contract is [[editNearDup]]'s exactly: (doc_a < doc_b, dist)
    * for every same-block pair with dist ≤ min(maxAbsDist,
    * max(len)·maxDistPermille/1000). */
  def editNearDupPrefix(docs: DataFrame, textCol: String, idCol: String,
                        blockCol: String, maxDistPermille: Int = 100,
                        maxAbsDist: Int = 64, q: Int = 2,
                        bucketWidth: Int = 32,
                        maxCandidatesPerDoc: Int = -1,
                        maxVerifyExpansion: Int = 16): DataFrame = {
    require(q >= 1, "q must be >= 1")
    val p = maxDistPermille
    val cap = maxAbsDist
    // largest longer-side length whose pair threshold t can be ≤ 0;
    // t(lb) = (lb − q + 1) − q·min(cap, lb·p DIV 1000) is not monotone
    // across the cap knee, so scan the finite range t ≤ 0 confines it to
    val tinyLen = (1 to q * cap + q)
      .filter(lb => lb - q + 1 - q * math.min(cap, lb * p / 1000) <= 0)
      .foldLeft(0)(math.max)
    val base = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(textCol).as("t"), length(col(textCol)).as("len"))
    // positional q-grams, bag-tagged: the k-th occurrence of a gram in a
    // doc is element (gram, k). Tags come from a count-then-explode
    // (occurrence IDENTITY is irrelevant — only that a doc with m copies
    // of g holds tags (g,1)…(g,m)), which partial-aggregates map-side
    // where a row_number window would full-sort every partition.
    // Materialized ONCE — the frame feeds both the df aggregation and
    // the df-ranked prefix selection (recomputing it was exactly the
    // simhash df-cap regression of round 5).
    // repartition by id BEFORE the explode (the buildMd5Signatures
    // lesson): the gram explode + per-gram aggregation inherit the
    // INPUT's partitioning, and a single-file corpus would serialize
    // the whole gram build on one scan task (measured 2.1 s of a 7.5 s
    // wall at sf0.1). The partition count is EXPLICIT because AQE's
    // byte-driven coalescing sees ~1 MB of doc rows and would merge
    // the exchange back to one partition, blind to the ~len× work
    // amplification behind the explode (REPARTITION_BY_NUM is exempt).
    val gramRows = base.filter(col("len") >= q)
      .repartition(fanOutWidth(docs), col("id"))
      .select(col("blk"), col("id"), col("len"), col("t"),
        explode(sequence(lit(1), col("len") - lit(q - 1))).as("gpos"))
      .withColumn("gram", expr(s"substring(t, gpos, $q)"))
      .groupBy(col("blk"), col("id"), col("len"), col("gram"))
      .agg(count(lit(1)).as("m"))
      .select(col("blk"), col("id"), col("len"), col("gram"),
        explode(sequence(lit(1), col("m"))).as("occ"))
      // LAZY (r17): the guard census below is the materializing action
      // — the old eager checkpoint paid its own blocking job first
      .localCheckpoint(eager = false)
    val dfTab = gramRows.groupBy(col("gram"), col("occ"))
      .agg(count(lit(1)).as("gdf"))
    // per-ROLE τ bounds (prefixes sized per the theorem, no slack):
    //  - as the SHORTER side a doc's partner is at most len+cap long,
    //    so τ_pair ≤ min(cap, (len+cap)·p/1000) — the probe prefix;
    //  - as the LONGER side τ_pair = min(cap, len·p/1000) exactly —
    //    the register prefix, strictly smaller. Asymmetric prefixes
    //    per role are exact: each side only needs ITS
    //    (|G| − t + 1)-prefix, both ≤ q·τ_pair + 1.
    // The register side additionally carries the length bucket in the
    // join key (editNearDup's radius registration): a legal pair's gap
    // is ≤ cap, so the longer side registering buckets {b−radius … b}
    // meets the shorter side's own bucket — dividing every gram
    // bucket's occupancy by the corpus's length spread, which is what
    // bounds the join on small-alphabet corpora where no gram is rare.
    val ranked = gramRows.join(dfTab, Seq("gram", "occ"))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("gdf"), col("gram"), col("occ"))))
      .filter(col("prank") <=
        lit(q) * expr(s"least($cap, ((len + $cap) * $p) DIV 1000)") + lit(1))
      .select(col("blk"), col("id"), col("len"), col("gram"), col("occ"),
        col("prank"))
      // LAZY (r17): materialized by the same guard-census action
      .localCheckpoint(eager = false)
    val radius = (cap - 1) / bucketWidth + 1
    val l = ranked.select(col("blk"), col("gram"), col("occ"),
      col("id").as("id_a"), col("len").as("len_a"),
      expr(s"len DIV $bucketWidth").as("b"))
    val r = ranked
      .filter(col("prank") <= lit(q) * expr(s"least($cap, (len * $p) DIV 1000)") + lit(1))
      .select(col("blk").as("blk_r"), col("gram").as("gram_r"),
        col("occ").as("occ_r"), col("id").as("id_b"), col("len").as("len_b"),
        explode(sequence(expr(s"len DIV $bucketWidth") - radius,
          expr(s"len DIV $bucketWidth"))).as("reg"))
    // CANDIDATE-VOLUME guard (editNearDup's occupancy-guard pattern,
    // applied to the exact join volume): rarest-first selection bounds
    // bucket occupancy only while the corpus's GRAM DIVERSITY grows
    // with it — true of real text, false of an adversarially small
    // alphabet, where every document's "rarest" grams are the same few
    // keys and ANY exact gram method degrades toward the quadratic
    // (the pairwise count bound cannot be evaluated without meeting
    // the pair). The exact join volume Σ mₗ·mᵣ over join keys costs
    // two small aggregations of the already-materialized prefix frame
    // — refuse a super-linear join with the remedy named instead of
    // silently running it. Int.MaxValue disables.
    //
    // The DEFAULT bound is DERIVED from the corpus, not a per-doc
    // constant (r13: the 5000/doc default was hand-raised to 8000
    // after the sf1 guard trip, and would have tripped again at the
    // next scale jump): the verify stage costs ~O(len) per candidate
    // (the counting filter discharges most before the banded DP), and
    // the corpus's positional-gram mass is ~Σ len, so capping volume
    // at maxVerifyExpansion × gramMass caps verification at a CONSTANT
    // FACTOR of re-reading the corpus — a scale-free linearity
    // yardstick that grows with the data. Measured on the fixture
    // corpus (q=2, permille=50): volume/gramMass = 0.34 at 500 docs,
    // 2.8 at 5k, 12.1 at 50k — the default 16 passes all three with
    // no knob, and a corpus whose ratio keeps growing past it has
    // genuinely quadratic near-dup structure the exact path should
    // refuse, not absorb. maxCandidatesPerDoc ≥ 0 is the manual
    // per-doc override (the old semantics).
    if (maxCandidatesPerDoc != Int.MaxValue) {
      // ONE census action for the whole guard (r17 — it was three
      // sequential ones: the eager gram checkpoint, a gramRows.count(),
      // and the volume head): the gram mass (gramRows holds exactly one
      // row per positional gram, so count(*) IS Σ max(len−q+1, 0)) and
      // the exact join volume ride one crossJoined 1-row frame, and
      // that head() is ALSO what materializes the two lazy checkpoints
      // above — gramRows first (ranked consumes it), then ranked, whose
      // blocks every later consumer reads. The doc count is only
      // needed under the manual per-doc override.
      val ml = l.groupBy(col("blk"), col("gram"), col("occ"), col("b"))
        .agg(count(lit(1)).as("ml"))
      val mr = r.groupBy(col("blk_r"), col("gram_r"), col("occ_r"), col("reg"))
        .agg(count(lit(1)).as("mr"))
      val census = gramRows.agg(count(lit(1)).as("gm"))
        .crossJoin(ml.join(mr, col("blk") === col("blk_r") &&
            col("gram") === col("gram_r") && col("occ") === col("occ_r") &&
            col("b") === col("reg"))
          .agg(coalesce(sum(col("ml") * col("mr")), lit(0L)).cast("long")
            .as("vol")))
        .head()
      val gramMass = math.max(census.getLong(0), 1L)
      val volume = census.getLong(1)
      val nDocs =
        if (maxCandidatesPerDoc >= 0)
          math.max(base.agg(count(lit(1))).head().getLong(0), 1L)
        else 1L
      val bound =
        if (maxCandidatesPerDoc >= 0) maxCandidatesPerDoc.toLong * nDocs
        else maxVerifyExpansion.toLong * gramMass
      if (volume > bound)
        throw new IllegalStateException(
          s"editNearDupPrefix: candidate volume $volume exceeds the " +
          (if (maxCandidatesPerDoc >= 0)
             s"manual budget $maxCandidatesPerDoc/doc over $nDocs docs"
           else
             s"derived verify-cost bound $bound (= $maxVerifyExpansion × " +
             s"$gramMass corpus grams; measured ratio " +
             f"${volume.toDouble / gramMass}%.1f)") +
          s" — the corpus's q-gram diversity is too small for prefix " +
          s"filtering to stay linear (small-alphabet/templated text, or " +
          s"dense true-duplicate clusters). Use editNearDup(contentBand = " +
          s"true) for this corpus, tighten maxDistPermille, raise q, or " +
          s"raise maxVerifyExpansion/maxCandidatesPerDoc explicitly to " +
          s"accept the cost.")
    }
    // pair-level length gate uses the true pair τ (longer side's len);
    // orientation is (len, id) shorter-first like editNearDup, so every
    // pair is generated exactly one way regardless of id order
    val cand = l.join(r, col("blk") === col("blk_r") &&
        col("gram") === col("gram_r") && col("occ") === col("occ_r") &&
        col("b") === col("reg") &&
        (col("len_a") < col("len_b") ||
          (col("len_a") === col("len_b") && col("id_a") < col("id_b"))) &&
        col("len_b") - col("len_a") <= least(lit(cap), expr(s"(len_b * $p) DIV 1000")))
      .select(col("id_a"), col("id_b"))
    // t ≤ 0 side channel: all-pairs among docs short enough that the
    // gram bound is vacuous (empty at default parameters)
    val tiny = if (tinyLen <= 0) cand.limit(0) else {
      val td = base.filter(col("len") <= tinyLen)
      td.select(col("blk"), col("id").as("id_a"), col("len").as("len_a"))
        .join(td.select(col("blk").as("blk_r"), col("id").as("id_b"),
          col("len").as("len_b")), col("blk") === col("blk_r") &&
          (col("len_a") < col("len_b") ||
            (col("len_a") === col("len_b") && col("id_a") < col("id_b"))) &&
          col("len_b") - col("len_a") <= least(lit(cap), expr(s"(len_b * $p) DIV 1000")))
        .select(col("id_a"), col("id_b"))
    }
    // one verify per distinct pair; bodies and probe counts join back by
    // id AFTER the dedup so texts never ride the gram-index shuffles.
    // Repartition by id_a spreads the DP work for the same reason as
    // editNearDup's pre-verify repartition.
    val bodies = base
      .withColumn("pc", editProbeCounts(col("t")))
      .select(col("id"), col("t"), col("pc"), col("len"))
    val pairs = cand.union(tiny).dropDuplicates("id_a", "id_b")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id_a"))
      .join(bodies.select(col("id").as("id_a"), col("t").as("t_a"),
        col("pc").as("pc_a"), col("len").as("la")), Seq("id_a"))
      .join(bodies.select(col("id").as("id_b"), col("t").as("t_b"),
        col("pc").as("pc_b"), col("len").as("lb")), Seq("id_b"))
    val budget = greatest(col("la"), col("lb")) * p
    pairs
      .filter(graft.functions.AbsDiffSum.absDiffSum(col("pc_a"), col("pc_b")) * 500
        <= budget)
      // EvalOnce: same §4.4 barrier as editNearDup's verify — without
      // it the banded DP lands in the join condition 2× plus the
      // projection (measured 40 s of 60 s task time at sf0.1).
      // LevCapped: the banded 12.8×-faster twin of the builtin
      // (LevProbe / LevCappedSpec)
      .withColumn("dist", graft.functions.EvalOnce.evalOnce(
        graft.functions.LevCapped.levCapped(col("t_a"), col("t_b"), cap)))
      .filter(col("dist") >= 0 && col("dist") * 1000 <= budget)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("dist"))
  }

  /** Positional (non-distinct) word n-grams: one row per gram START
    * position — the raw material for winnowing and exact-substring
    * dedup, where WHERE a gram sits matters as much as what it says.
    * Documents shorter than n words yield no grams (both consumers
    * define their outputs over full windows only). */
  private def positionalGrams(docs: DataFrame, textCol: String,
                              idCol: String, n: Int): DataFrame = {
    // explicit repartition before the positional explode (the
    // buildShingleIndex lesson): a single-file corpus serializes the
    // gram build on one scan task, and AQE's byte-driven coalescing
    // would undo a plain repartition(col) on the ~1 MB of doc rows
    val toks = docs
      .repartition(fanOutWidth(docs), col(idCol))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .where(size(col("w")) >= n)
    toks
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - lit(n - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ",
          (0 until n).map(j => element_at(col("w"), col("i") + lit(j))): _*)
          .as("gram"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every positional n-gram, slide a window
    * of `winW` consecutive hashes, and in each full window select the
    * minimum hash with RIGHTMOST tie-break (min over (hash, -pos) —
    * struct ordering is lexicographic in both engines). The guarantee:
    * any shared run of winW+n-1 words between two documents shares at
    * least one selected fingerprint, while only ~2/(winW+1) of grams
    * are kept — position-robust local fingerprinting that survives
    * insertions/reorders global hashing (SimHash/MinHash over whole
    * docs) smears away. Output: distinct (doc_id, h).
    *
    * Scale: one shuffle by doc_id for the ordered window (per-document
    * work, bounded by doc length), then a distinct on (doc_id, h) —
    * the fingerprint set is ~2/(winW+1) of the gram count. */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, winW: Int = 4): DataFrame = {
    val grams = positionalGrams(docs, textCol, idCol, n)
    val win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, winW - 1)
    grams
      // single-pass kernel for the 32-bit hex-prefix hash (the
      // Md5Hash60Expr chain-elimination, at 8 digits): bit-identical to
      // conv(substring(md5(gram),1,8),16,10), pinned by Md5Hash60Spec
      .select(col("doc_id"), col("i"),
        graft.functions.Md5Hash60.md5HashHex(col("gram"), 8).as("h"))
      .select(col("doc_id"),
        min(struct(col("h"), (-col("i")).as("ni"))).over(win).as("mn"),
        count(lit(1)).over(win).as("cnt"))
      .where(col("cnt") === winW)
      .select(col("doc_id"), col("mn.h").as("h"))
      .distinct()
  }

  /** Near-dup pairs by shared winnowing fingerprints: candidates come
    * from an equi-join on fingerprint hashes (df-capped — a fingerprint
    * shared by more than maxDf documents is boilerplate, not signal,
    * and would produce quadratic candidates), scored by shared-count
    * and by overlap permille against the SMALLER fingerprint set
    * (containment — robust when a short document is embedded in a long
    * one). Output: (doc_a, doc_b, n_shared, overlap_permille),
    * integer-exact. */
  def winnowNearDup(docs: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, winW: Int = 4, maxDf: Int = 100,
                    minShared: Long = 2, minPermille: Long = 300): DataFrame = {
    // materialize the fingerprint set once: three consumers below (set
    // sizes, the df cap, the candidate self-join) would each re-run the
    // gram + window derivation (StageProbe: two concurrent gram builds)
    val fp = winnowFingerprints(docs, textCol, idCol, n, winW).localCheckpoint()
    val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val kept = fp.join(
      fp.groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("h"),
      "h")
    val pairs = kept.select(col("doc_id").as("doc_a"), col("h"))
      .join(kept.select(col("doc_id").as("doc_b"), col("h")), "h")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("nfp").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("nfp").as("nb")), "doc_b")
      .withColumn("overlap_permille",
        expr("(1000 * n_shared) div least(na, nb)"))
      .where(col("n_shared") >= minShared &&
        col("overlap_permille") >= minPermille)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("overlap_permille"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Corpus-level exact-substring duplication stats (the detection half
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every positional l-gram occurring more than once
    * ANYWHERE in the corpus marks its word span as duplicated; per
    * document, overlapping/adjacent spans merge (gaps-and-islands over
    * a running max of span ends) and the merged islands are reported as
    * (n_dup_spans, n_dup_words, dup_permille). Documents with no
    * duplicated span are omitted.
    *
    * Scale: the gram df pass is a map-side-combined count on gram
    * hashes; span merging is per-document window work after one shuffle
    * by doc_id. No all-pairs join exists — duplication is detected
    * through the gram GROUP BY, not document comparison. */
  def substringDedupStats(docs: DataFrame, textCol: String, idCol: String,
                          l: Int = 8): DataFrame = {
    val grams = positionalGrams(docs, textCol, idCol, l)
    val dup = grams.groupBy("gram").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("gram")
    val spans = grams.join(dup, "gram")
      .select(col("doc_id"), col("i").as("s"), (col("i") + lit(l - 1)).as("e"))
    val merged = mergeSpans(spans)
    val perDoc = merged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + lit(1)).as("n_dup_words"))
    val sizes = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("nw"))
    perDoc.join(sizes, "doc_id")
      .withColumn("dup_permille", expr("(1000 * n_dup_words) div nw"))
      .select(col("doc_id"), col("n_dup_spans"), col("n_dup_words"),
        col("dup_permille"))
      .orderBy(col("doc_id"))
  }

  /** Gaps-and-islands merge of per-document word spans (doc_id, s, e):
    * overlapping or adjacent spans fuse into one island via a running
    * max of span ends — one shuffle by doc_id, per-document window
    * work. Shared by the detection ([[substringDedupStats]]) and
    * removal ([[substringRemoval]]) halves of exact-substring dedup.
    * Output: (doc_id, island, s, e). */
  private def mergeSpans(spans: DataFrame): DataFrame = {
    val prevMax = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val runSum = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, 0)
    spans
      .withColumn("brk",
        when(col("s") > coalesce(max(col("e")).over(prevMax), lit(-1)) + lit(1),
          lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(runSum))
      .groupBy("doc_id", "island")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
  }

  /** The REMOVAL half of exact-substring dedup (Lee et al. 2022 §3 —
    * what a curation pipeline actually runs; [[substringDedupStats]] is
    * the report): every occurrence of a corpus-duplicated l-gram EXCEPT
    * its canonical first one — first in (md5(doc_id), doc_id, position)
    * order, the house content-free deterministic order — marks its word
    * span for cutting; per document the cut spans merge gaps-and-islands
    * style ([[mergeSpans]]) and the surviving words re-join into the
    * deduplicated text. Documents entirely consumed by cuts drop out
    * (an empty text is not a document). Re-running the detection half
    * on the output reports zero duplicated spans on real corpora —
    * up to the (astronomically unlikely, and harmless) case of a cut
    * junction forming a brand-new l-gram that collides with another
    * document.
    *
    * Scale: the canonical-occurrence pass is ONE grouped aggregation on
    * the gram key (min occurrence struct + count, both map-side
    * partial); no document-pair join exists anywhere. Span merging
    * shuffles once by doc_id; the reconstruction is a per-document
    * higher-order-function filter over the word array against the
    * collected island list (bounded by the doc's own span count) — no
    * word-level join. Output: (doc_id, text), the deduplicated corpus. */
  def substringRemoval(docs: DataFrame, textCol: String, idCol: String,
                       l: Int = 8): DataFrame = {
    val grams = positionalGrams(docs, textCol, idCol, l)
    val keyed = grams.withColumn("k",
      struct(md5(col("doc_id").cast("string")).as("m"), col("doc_id"),
        col("i")))
    // min-struct + count in ONE partial-agg pass: df>1 grams with their
    // canonical occurrence; df=1 grams never produce a cut
    val owners = keyed.groupBy(col("gram"))
      .agg(min(col("k")).as("own"), count(lit(1)).as("df"))
      .where(col("df") > 1)
      .select(col("gram"), col("own"))
    val spans = keyed.join(owners, Seq("gram"))
      .where(col("k") =!= col("own"))
      .select(col("doc_id"), col("i").as("s"), (col("i") + lit(l - 1)).as("e"))
    cutSpans(docs, textCol, idCol, mergeSpans(spans))
  }

  /** Cut merged word islands (doc_id, island, s, e) out of each
    * document's text and re-join the survivors — the apply half shared
    * by [[substringRemoval]] and [[decontaminationRemoval]]. The
    * reconstruction is a per-document higher-order-function filter of
    * the word array against the collected island list (bounded by the
    * doc's own span count) — no word-level join. Documents entirely
    * consumed by cuts drop out (an empty text is not a document). */
  private def cutSpans(docs: DataFrame, textCol: String, idCol: String,
                       merged: DataFrame): DataFrame = {
    val islands = merged
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("cuts"))
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .join(islands, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        "filter(zip_with(w, sequence(1, size(w)), (x, j) -> struct(x AS word, j AS j)), " +
        "p -> cuts IS NULL OR NOT exists(cuts, c -> p.j >= c.s AND p.j <= c.e))"))
      .where(size(col("kept")) > 0)
      .select(col("doc_id"),
        expr("array_join(transform(kept, p -> p.word), ' ')").as("text"))
      .orderBy(col("doc_id"))
  }

  /** SPAN-level decontamination — the surgical complement of
    * [[decontaminate]]'s whole-document flagging: cut from every TRAIN
    * document each l-gram span that appears ANYWHERE in the EVAL
    * corpus, keeping the rest of the document (dropping a whole long
    * document over one leaked benchmark sentence wastes its clean
    * majority; shipping the sentence leaks the benchmark — the cut is
    * the curation move that does neither). Overlapping leaked spans
    * merge gaps-and-islands style and the survivors re-join via
    * [[cutSpans]]; after the cut, NO train l-gram occurs in eval —
    * [[contaminationRate]] at the same l reports 0 for every eval doc
    * against the output (spec-pinned), up to the same astronomically
    * unlikely cut-junction collision [[substringRemoval]] documents.
    *
    * Scale: the eval gram set is orders of magnitude smaller than the
    * train corpus and broadcasts into a LEFT SEMI join against the
    * train gram stream ([[decontaminate]]'s asymmetry argument) — the
    * train corpus is never shuffled for the match; span merging
    * shuffles train docs once by doc_id. */
  def decontaminationRemoval(train: DataFrame, eval: DataFrame,
                             textCol: String, idCol: String,
                             l: Int = 8): DataFrame = {
    val tGrams = positionalGrams(train, textCol, idCol, l)
    val eGrams = positionalGrams(eval, textCol, idCol, l)
      .select(col("gram")).distinct()
    val spans = tGrams.join(broadcast(eGrams), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("i").as("s"), (col("i") + lit(l - 1)).as("e"))
    cutSpans(train, textCol, idCol, mergeSpans(spans))
  }

  /** Stratified exact split by largest-remainder allocation: within
    * each stratum, documents are ordered by a deterministic content-free
    * hash (md5 of the id — reshuffling the fixture file order cannot
    * move a document between splits) and the per-class counts are the
    * EXACT largest-remainder apportionment of the stratum size over the
    * permille weights — floor(n·w/1000) per class plus one for the
    * largest remainders, ties broken by class order. Unlike the
    * hash-threshold split (q_split_assign), class sizes here are exact
    * to the document, which is what eval-set construction needs.
    *
    * Scale: the per-stratum rank is a DISTRIBUTED two-phase rank
    * ([[Rank.cellRank]]) — `Window.partitionBy(stratum)` alone would
    * put each stratum in ONE task (strata are few and large by
    * construction: languages), so the md5 order key's first byte
    * buckets every stratum into 256 uniform cells, cells rank locally,
    * and broadcast cumulative cell counts lift local ranks to global
    * ones. The allocation table is strata×classes rows, broadcast to
    * the assignment join. */
  def stratifiedSplit(docs: DataFrame, stratumCol: String, idCol: String,
      classes: Seq[(String, Int)] =
        Seq(("train", 800), ("val", 100), ("test", 100))): DataFrame = {
    require(classes.map(_._2).sum == 1000, "class weights must sum to 1000")
    val s = docs.sparkSession
    import s.implicits._
    val hashed = docs
      .select(col(idCol).as("doc_id"), col(stratumCol).as("stratum"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("__b", Rank.md5Bucket(col("h")))
    val counts = hashed.groupBy(col("stratum")).agg(count(lit(1)).as("n"))
    val ordered = Rank.cellRank(hashed, Seq("stratum"), "__b",
        Seq(col("h"), col("doc_id")), "rn")
      .join(broadcast(counts), Seq("stratum"))
      .drop("h")
    val cls = classes.zipWithIndex
      .map { case ((c, w), i) => (c, w, i + 1) }.toDF("cls", "w", "cls_idx")
    val quota = counts
      .crossJoin(broadcast(cls))
      .withColumn("base", expr("(n * w) div 1000"))
      .withColumn("rem", expr("(n * w) % 1000"))
      .withColumn("leftover",
        col("n") - sum(col("base")).over(Window.partitionBy("stratum")))
      .withColumn("rnk", row_number().over(Window.partitionBy("stratum")
        .orderBy(col("rem").desc, col("cls_idx"))))
    val bounds = quota
      .withColumn("n_cls",
        col("base") + when(col("rnk") <= col("leftover"), 1).otherwise(0))
      .withColumn("hi", sum(col("n_cls"))
        .over(Window.partitionBy("stratum").orderBy("cls_idx")))
      .withColumn("lo", col("hi") - col("n_cls"))
      .select(col("stratum").as("b_stratum"), col("cls"), col("lo"), col("hi"))
    ordered.join(broadcast(bounds),
        col("stratum") === col("b_stratum") &&
        col("rn") > col("lo") && col("rn") <= col("hi"))
      .select(col("doc_id"), col("stratum"), col("cls").as("split"))
      .orderBy(col("doc_id"))
  }
}
