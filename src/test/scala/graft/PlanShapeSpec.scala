package graft

/** Asserts the PHYSICAL-PLAN properties the 100 TB design depends on —
  * not just that queries return the right rows, but that they produce
  * the plans you'd want on a 1000-executor cluster: filters reaching the
  * parquet scan, columns pruned at the source, small dimensions
  * broadcast, partial (map-side) aggregation before any shuffle, and no
  * accidental cartesian products in the candidate-join family. */
class PlanShapeSpec extends SparkTestBase {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfSmoke).queryExecution.executedPlan.toString

  test("q_range_filter: the key range reaches the parquet scan as pushed filters") {
    val p = plan("q_range_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(key") && p.contains("LessThan(key"), p)
  }

  test("q1_agg: column pruning — the scan reads only the 5 referenced lineitem columns") {
    val p = plan("q1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      .foreach(c => assert(readSchema.contains(c), readSchema))
    Seq("l_comment", "l_shipdate", "l_orderkey")
      .foreach(c => assert(!readSchema.contains(c), readSchema))
  }

  test("q_checksum: partial+final hash aggregation (map-side combine before the shuffle)") {
    val p = plan("q_checksum")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs in:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("q_join_revenue: small dimensions broadcast; no shuffle of customer/nation") {
    val p = plan("q_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p)
  }

  test("candidate-join family plans contain no cartesian product or nested-loop join") {
    // these joins must stay equi-joins on hashes/buckets/labels at any
    // scale — a cartesian anywhere here is the 100×-scale-killer
    for (q <- Seq("q_jaccard_join", "q_dedup_minhash", "q_simhash_neardup",
        "q_cosine_neardup", "q_srp_neardup", "q_range_join", "q_asof_join",
        "q_minhash_est")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("q_diff_pruned: changed-bucket list broadcast; pruning is a semi-join at the scan side") {
    val p = plan("q_diff_pruned")
    // the changed-bucket list must BROADCAST (it is tiny by construction);
    // a shuffled semi-join here would defeat the whole point — the equal
    // bulk of both snapshots must be dropped without shuffling
    assert(p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")) >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("checksumPrunedDiff over two kvbin reads computes the bucket digest once (ReusedExchange)") {
    import graft.sources.kvbin.KVBin
    import spark.implicits._
    // prune(src) and prune(dst) both embed the changed-bucket digest;
    // value-equal kvbin scans let the planner share its exchange
    def table(changed: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("kvbin-reuse-").toString
      KVBin.write(Seq.tabulate(300)(i => (f"ru_$i%04d".getBytes("UTF-8"),
        (if (i == changed) "x" else s"v$i").getBytes("UTF-8"))).toDF("key", "value"),
        dir, 4)
      dir
    }
    val out = graft.operators.Diff.checksumPrunedDiff(
      KVBin.read(spark, table(-1)), KVBin.read(spark, table(42)))
    // the final adaptive plan: stages are reused as they are created
    assert(out.collect().length === 1)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p)
  }

  test("q_decontaminate: eval side broadcast — the training corpus is never shuffled to join") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_salted_join: hot-key routing joins broadcast; no full-side replication operator") {
    // the two-path salted join must route via BROADCAST semi/anti joins
    // on the tiny hot-key list — a shuffled routing join would scan-
    // shuffle both sides twice before the real join even starts
    val p = plan("q_salted_join")
    assert(p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && (l.contains("LeftSemi") || l.contains("LeftAnti"))) >= 4, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ann_kmeans / q_cosine_neardup_blocked: centroid tables broadcast, equi-joins only") {
    for (q <- Seq("q_ann_kmeans", "q_cosine_neardup_blocked")) {
      val p = plan(q)
      // codebooks / block metadata are model parameters, not data — the
      // corpus-side joins against them must be broadcast equi-joins
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$q does not broadcast its centroid table:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
  }

  test("q_dedup_delta: batch-side index broadcasts; no corpus self-join blowup shapes") {
    val p = plan("q_dedup_delta")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_symdiff: one diff pass — exactly one full-outer join, no exceptAll shuffles") {
    val p = plan("q_symdiff")
    assert(p.linesIterator.count(_.contains("FullOuter")) === 1, p)
    // the set-ops formulation would show up as extra (4-way) aggregates
    // over unioned snapshots; the derived form has none
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text-analysis pipeline: vectorized scan, codegen spans, no interpreter fallback") {
    // AQE only shows codegen spans in the FINAL plan — execute THIS
    // queryExecution (a write would clone the plan and leave it unfinal)
    // and unwrap the adaptive root (its toString hides children). The
    // scoring Project itself uses higher-order array functions (lambda
    // filter/transform), which Spark deliberately keeps out of WSCG —
    // the guarantees that matter are the vectorized parquet read, the
    // codegen'd (*) stages around it, and the absence of Python/RDD
    // evaluation anywhere.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q_quality")(spark, sfSmoke)
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    assert(p.contains("*("), p)                    // whole-stage codegen spans
    assert(p.contains("Batched: true"), p)         // vectorized parquet reader
    assert(!p.contains("BatchEvalPython"), p)
    assert(!p.contains("ExistingRDD"), p)
  }

  test("q_nb_calibration: the global ntile is rank-based — no window operator in the final plan") {
    // the calibration buckets come from range-repartition + zipWithIndex
    // prefix ranks (r15); an unpartitioned ntile window here would be
    // the one-task funnel the r14 verdict flagged
    val p = plan("q_nb_calibration")
    assert(!p.contains("Window"), p)
  }

  test("q_sparse_cosine: index self-join is an equi-join; only the scalar doc count nest-loops") {
    val p = plan("q_sparse_cosine")
    assert(!p.contains("CartesianProduct"), p)
    // BroadcastNestedLoopJoins here are ONLY the 1-row corpus-count
    // broadcast (the verdict-join pattern), whose subtree the plan text
    // replicates once per `weights` consumer (norms + both join sides +
    // dot; ReusedExchange dedups at runtime) — every one must be the
    // scalar Cross build, and the candidate self-join itself a hash join
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 4 && bnlj.forall(_.contains("Cross")), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_bloom_join: membership filter sits on the fact scan; dim broadcasts") {
    val p = plan("q_bloom_join")
    // the Bloom predicate must be a plain Filter directly over the fact
    // scan (codegen built-ins), and the dim side must broadcast — the
    // pre-filter is pointless if the fact still shuffles to a SMJ
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val filterIdx = p.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("element_at"))
    assert(filterIdx >= 0, s"bloom membership filter not found:\n$p")
  }

  test("round-10 additions: blocklist anchors broadcast; margin/overlap pair joins never cartesian over data") {
    for (q <- Seq("q_blocklist", "q_bitext_margin", "q_bitext_margin_ann",
        "q_hll_overlap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // the ANN margin path must be ALL equi-joins — the brute entry's
    // broadcast cross stage (a legitimate BNLJ over the capped slice)
    // is exactly what the banded candidate join replaces
    assert(!plan("q_bitext_margin_ann").contains("BroadcastNestedLoopJoin"),
      plan("q_bitext_margin_ann"))
    // the phrase map joins the token explode as a BROADCAST hash join —
    // a shuffled phrase join would defeat the anchor gate's point
    val bl = plan("q_blocklist")
    assert(bl.contains("BroadcastHashJoin"), bl)
    // q_kvbin_skip: the stat predicate is CONSUMED by the source (prune
    // + in-reader filter) — no Spark-side Filter over the scan remains
    val sk = plan("q_kvbin_skip")
    assert(sk.contains("PushedStatRanges"), sk)
  }

  test("q_hll_overlap_sketch: pair pricing never re-touches the token table — zero file scans after the register build") {
    val p = plan("q_hll_overlap_sketch")
    // the registers are materialized once (localCheckpoint); every
    // branch of the pair/estimate stage must read THAT |G|·m-row frame,
    // so the plan may contain only ExistingRDD scans — a FileScan here
    // means a corpus re-read crept back into the sketch path
    assert(!p.contains("FileScan"), s"corpus re-scan in the sketch path:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_blocklist_table: the table-fed phrase route carries NO broadcast hint on the anchor join") {
    // the million-phrase escape as a gated entry: the Seq route FORCES
    // broadcast (a driver list is small by construction), the table
    // route leaves the decision to Catalyst's stats — the analyzed plan
    // carries hints verbatim, so hint-freedom is directly assertable.
    // (The optimizer may still CHOOSE broadcast for this small fixture
    // list — correct; a million-phrase table would exceed the threshold
    // and shuffle, which is the escape's point.)
    val hinted = SparkEntry.queries("q_blocklist")(spark, sfSmoke)
      .queryExecution.analyzed.toString
    val table = SparkEntry.queries("q_blocklist_table")(spark, sfSmoke)
      .queryExecution.analyzed.toString
    assert(hinted.contains("ResolvedHint"), hinted)
    assert(!table.contains("ResolvedHint"), table)
    // and the shared core keeps the scale discipline either way: the
    // per-doc anchor fold + HOF verify, never a cartesian
    val p = plan("q_blocklist_table")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("filter(anch"), s"HOF window verify missing:\n$p")
  }

  test("round-13 additions: adaptive-minhash and nprobe-curve plans are equi-join shaped, never cartesian over data") {
    // q_dedup_minhash_auto: banded self-join + verify re-join are all
    // hash equi-joins — the chooser changes BAND DEPTH, never the shape
    val mh = plan("q_dedup_minhash_auto")
    assert(!mh.contains("CartesianProduct"), mh)
    assert(!mh.contains("BroadcastNestedLoopJoin"), mh)
    // q_ann_nprobe_curve: the corpus-side work is ONE cluster equi-join;
    // the only non-equi joins are against the broadcast C-row depth
    // frame (the threshold-broadcast idiom — bounded by the codebook,
    // never by the corpus)
    val np = plan("q_ann_nprobe_curve")
    assert(!np.contains("CartesianProduct"), np)
    assert(np.contains("BroadcastHashJoin"), np)
  }

  test("blocklist table route at phrase-table scale: Catalyst CHOOSES a shuffled anchor join; results equal the broadcast route") {
    // hint-freedom proved in the OTHER direction: q_blocklist_table's
    // pin shows the route carries no hint and Catalyst broadcasts the
    // SMALL fixture table — here the phrase table is pushed past the
    // broadcast threshold so statistics-driven planning must pick a
    // SHUFFLED anchor join, and the result must equal the
    // broadcast-chosen run row for row. Fixture-scale via a lowered
    // threshold: the planner decides on size-vs-threshold either way,
    // so a 50k-phrase table under 1 KB threshold exercises exactly the
    // decision a million-phrase table meets under the default 10 MB.
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
    // real corpus bigrams guarantee hits; synthetic bulk makes the
    // table genuinely non-tiny (and never matches)
    val real = docs.limit(20)
      .select(org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " ").as("ws"))
      .select(org.apache.spark.sql.functions.concat_ws(" ",
        org.apache.spark.sql.functions.element_at(org.apache.spark.sql.functions.col("ws"), 1),
        org.apache.spark.sql.functions.element_at(org.apache.spark.sql.functions.col("ws"), 2)).as("p"))
    val synth = spark.range(50000)
      .select(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("zzzsyn"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(" qqq")).as("p"))
    val phrases = real.union(synth)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    def run(): (Seq[(Long, Long, Long)], String) = {
      val df = TextAnalysis.blocklistHitsTable(docs, "text", "doc_id", phrases)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      (df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
        df.queryExecution.executedPlan.toString)
    }
    val (broadRows, broadPlan) = run() // default threshold: broadcast
    assert(broadPlan.contains("BroadcastHashJoin"), broadPlan)
    val (shufRows, shufPlan) =
      try { spark.conf.set(key, "1024"); run() }
      finally spark.conf.set(key, prev)
    assert(shufPlan.contains("SortMergeJoin") ||
      shufPlan.contains("ShuffledHashJoin"),
      s"expected a shuffled anchor join under the lowered threshold:\n$shufPlan")
    assert(!shufPlan.contains("CartesianProduct"), shufPlan)
    // the route is PLAN-INVARIANT: broadcast and shuffle agree exactly
    assert(shufRows === broadRows && broadRows.nonEmpty)
  }

  test("blocklist table route at TRUE phrase-table scale: the fixture exceeds the DEFAULT broadcast threshold, Catalyst shuffles unaided, equality pinned vs a forced broadcast") {
    // the lowered-threshold test above proves the DECISION; this one
    // proves it at genuine scale: a 1.2M-phrase parquet fixture AND a
    // padded docs fixture whose on-disk sizes (Catalyst's file-source
    // sizeInBytes) BOTH exceed the DEFAULT 10 MB
    // autoBroadcastJoinThreshold — with either side small, broadcasting
    // it is the RIGHT plan (and Catalyst takes it, as the corpus tables
    // at every test SF demonstrate); only when both sides are genuinely
    // large must statistics-driven planning pick a shuffled anchor join
    // with NO conf lowering — the plan a million-phrase toxicity list
    // meets against a production corpus. tools/gen_phrase_fixture.py
    // writes the same fixtures; the spec self-heals with identical
    // content (md5-derived hex, deterministic) so sbt test never
    // depends on having run the script.
    import org.apache.spark.sql.functions._
    def onDisk(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(path))
    }
    val fixture = "target/fixtures/phrases_large.parquet"
    if (!new java.io.File(fixture).exists()) {
      val h = md5(concat(lit("graftphrase"), col("id").cast("string")).cast("binary"))
      spark.range(1200000)
        .select(concat_ws(" ", substring(h, 1, 16), substring(h, 17, 16)).as("p"))
        .repartition(4).write.mode("overwrite").parquet(fixture)
    }
    // docs: the sf0.1 corpus with each text padded by 128 high-entropy
    // hex words (deterministic in doc_id) — same real leading bigrams
    // (hits preserved), on-disk size pushed past the threshold the way
    // a real corpus shard dwarfs it
    val docsFixture = "target/fixtures/docs_large.parquet"
    if (!new java.io.File(docsFixture).exists()) {
      spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), concat(col("text"), lit(" "),
          array_join(transform(sequence(lit(1), lit(128)), i =>
            md5(concat(lit("graftpad"), col("doc_id").cast("string"),
              lit("_"), i.cast("string")).cast("binary"))), " ")).as("text"))
        .repartition(4).write.mode("overwrite").parquet(docsFixture)
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    assert(threshold.takeWhile(_.isDigit) == "10485760" || threshold == "10MB",
      s"spec assumes the DEFAULT broadcast threshold, session has: $threshold")
    assert(onDisk(fixture) > 10485760L,
      s"phrase fixture must exceed the default threshold: ${onDisk(fixture)} bytes")
    assert(onDisk(docsFixture) > 10485760L,
      s"docs fixture must exceed the default threshold: ${onDisk(docsFixture)} bytes")
    val docs = spark.read.parquet(docsFixture)
    // hex phrases never match text; real corpus bigrams guarantee hits
    val real = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").limit(20)
      .select(split(col("text"), " ").as("ws"))
      .select(concat_ws(" ", element_at(col("ws"), 1),
        element_at(col("ws"), 2)).as("p"))
    val phrases = spark.read.parquet(fixture).union(real)
    def run(ph: org.apache.spark.sql.DataFrame): (Seq[(Long, Long, Long)], String) = {
      val df = graft.operators.TextAnalysis
        .blocklistHitsTable(docs, "text", "doc_id", ph)
        .orderBy(col("doc_id"))
      (df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
        df.queryExecution.executedPlan.toString)
    }
    val (shufRows, shufPlan) = run(phrases)
    assert(shufPlan.contains("SortMergeJoin") || shufPlan.contains("ShuffledHashJoin"),
      s"expected a statistics-chosen shuffled anchor join at default threshold:\n$shufPlan")
    assert(!shufPlan.contains("CartesianProduct"), shufPlan)
    // the shuffled anchor join must actually exchange BOTH sides on the
    // anchor word — partition sizing is the shuffle layer's job here,
    // not a broadcast's
    assert(shufPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) >= 2, shufPlan)
    // equality pinned against the hint-forced broadcast of the SAME list
    val (broadRows, broadPlan) = run(broadcast(phrases))
    assert(broadPlan.contains("BroadcastHashJoin"), broadPlan)
    assert(shufRows === broadRows && shufRows.nonEmpty)
  }

  test("blocklist verify join ships one doc copy per doc: anchors fold to an array before the re-join") {
    val p = plan("q_blocklist")
    // the per-doc anchor fold (collect_list keyed by doc_id) must sit
    // BELOW the doc_id verify join — joining raw anchor rows instead
    // would duplicate each doc's token array once per anchor, which a
    // stopword-anchored phrase list turns into ~|tokens| doc copies
    val lines = p.linesIterator.toSeq
    val foldIdx = lines.indexWhere(l =>
      l.contains("Aggregate") && l.contains("collect_list"))
    assert(foldIdx >= 0, s"per-doc anchor fold missing:\n$p")
    // the window verify is a HOF filter over the single shipped copy,
    // after the join — no per-anchor Filter over a joined row stream
    assert(p.contains("filter(anch"), s"HOF window verify missing:\n$p")
  }

  test("Bloom bitmap build: partial+final OR-fold, one buffer per partition, no distinct/collect") {
    val dim = spark.read.parquet(s"$sfSmoke/supplier.parquet")
    val p = graft.operators.Sketches.bloomWordsDf(
      dim, org.apache.spark.sql.functions.col("s_suppkey"), 8192, 3)
      .queryExecution.executedPlan.toString
    // typed OR-aggregator: map-side partial, SinglePartition exchange of
    // one m/64-word buffer per task, final merge — never a per-position
    // row shuffle and never a distinct
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("hashpartitioning"), s"per-position shuffle crept in:\n$p")
    assert(!p.contains("CollectLimit"), p)
  }

  test("q_priority_sample: distributed top-k (TakeOrdered), no global sort+collect") {
    val p = plan("q_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("GlobalLimit"), p) // TakeOrdered subsumes the limit
  }

  test("q_heavy_hitters / q_approx_distinct: sketch aggregation is partial+final") {
    for (q <- Seq("q_heavy_hitters", "q_approx_distinct")) {
      val p = plan(q)
      assert(p.contains("partial_") || p.contains("HashAggregate"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct") ||
        // kmv's 1-row × 1-row estimate/exact cross join is the verdict
        // pattern, not a data-scale cartesian
        q == "q_approx_distinct", s"$q:\n$p")
    }
  }

  test("q_pagerank: every iteration is equi-join + hash aggregate, no nested loops") {
    val p = plan("q_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_triangles / q_edit_neardup: candidate meets are equi-joins, never block-wide") {
    // triangles: wedge build + closure check must be hash equi-joins —
    // the degree orientation is pointless if the join nest-loops; edit
    // near-dup: the join key must carry the length bucket (blk alone
    // would meet every document of a language with every other)
    // the q_edit_neardup ENTRY now checkpoints the verified pairs before
    // the oracle orderBy (r16: the range partitioner's sampling pass was
    // re-running the whole DP verify), so the entry-level plan is a
    // checkpoint scan + sort; pin the OPERATOR's plan — the one the
    // checkpoint job actually executes
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
    // the SAME construction the q_edit_neardup entry benches (shared
    // helper — ADVICE r16: hand-copied parameters silently pinned a
    // different plan when the entry drifted)
    val pe = SparkEntry.editNearDupOperator(docs)
      .queryExecution.executedPlan.toString
    for ((q, p) <- Seq("q_triangles" -> plan("q_triangles"),
                       "q_edit_neardup" -> pe)) {
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
    val joinLine = pe.linesIterator.filter(_.contains("HashJoin"))
      .find(l => l.contains("blk")).getOrElse("")
    assert(joinLine.contains("reg") || joinLine.contains("b#"),
      s"edit-neardup join key must include the length bucket:\n$pe")
  }

  test("q_orc_ingest: the lang predicate reaches the ORC scan as a pushed filter") {
    val p = plan("q_orc_ingest")
    val scanLine = p.linesIterator.find(_.contains("FileScan orc")).getOrElse("")
    assert(scanLine.contains("PushedFilters") && scanLine.contains("EqualTo(lang,en)"),
      s"ORC scan must push the lang filter (stripe-stat skipping at scale):\n$p")
  }

  test("q_hard_negatives: the tiny query side broadcasts into the non-equi join") {
    // a label-inequality condition can't hash-join; the right plan is a
    // BroadcastNestedLoopJoin that builds the 10-row QUERY side, so the
    // corpus streams exactly once — never a shuffled cartesian
    val p = plan("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_adaptive_quality: the 5-row threshold frame broadcasts back into the gate") {
    val p = plan("q_adaptive_quality")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p) // map-side combine before both shuffles
  }

  test("q_priority_sample_by: one group shuffle, fed by the heap reduction, dim broadcast") {
    val p = plan("q_priority_sample_by")
    // phase 1 (per-partition bounded heaps) runs below the ONLY
    // hash-partitioned exchange — what crosses the wire is the reduced
    // survivor set, never the raw group
    assert(p.linesIterator.count(_.contains("hashpartitioning")) === 1, p)
    assert(p.contains("MapPartitions"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_semi_anti: plans a real left-semi and a real left-anti join") {
    val p = plan("q_semi_anti")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q_chunk_windows: shuffle-free — projection + explode only") {
    val p = plan("q_chunk_windows")
    assert(!p.contains("Exchange") ||
      // the final orderBy (verify-output determinism) is the only
      // allowed exchange; nothing before the generate may shuffle —
      // checked on the LAST Exchange so a second one sneaking in below
      // the Generate fails the test
      p.lastIndexOf("Exchange") < p.indexOf("Generate"),
      s"chunking itself must not shuffle:\n$p")
    assert(p.contains("Generate"), p)
  }

  test("q_above_avg: correlated subqueries decorrelate to aggregate+join (no per-row subplan)") {
    val p = plan("q_above_avg")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_min_cost_supplier: the correlated scalar subquery decorrelates to agg + equi-join") {
    val p = plan("q_min_cost_supplier")
    // RewriteCorrelatedScalarSubquery must turn the per-part min into a
    // grouped aggregate joined back on the part key — a per-row subplan
    // (nested loop / cartesian) here is the 100x-scale-killer
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("q_decayed_counts: scalar max-day broadcasts; one partial-agg pass over events") {
    val p = plan("q_decayed_counts")
    // the corpus max day is a 1-row broadcast; the decay groupBy must
    // partial-aggregate below its exchange (map-side combine)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_seasonal_anomaly: baseline joins back broadcast; raw events never re-joined") {
    val p = plan("q_seasonal_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q_disjunctive_rev: the cross-table OR splits into per-side pushed disjunctions") {
    val p = plan("q_disjunctive_rev")
    // Catalyst must CNF-extract the part-only disjunction (brand/size)
    // into the part scan's pushed filters, and the lineitem-only
    // disjunction (quantity tiers) into the fact side's filter — the
    // Q19 shape; without the split, every lineitem row reaches the join
    val partScan = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("p_brand")).getOrElse("")
    assert(partScan.contains("Or("), s"part scan lost the pushed disjunction:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val factFilter = p.linesIterator.find(l =>
      l.contains("Filter") && l.contains("l_quantity")).getOrElse("")
    assert(factFilter.contains("OR"), s"fact side lost the quantity disjunction:\n$p")
  }

  test("q_event_paths: top paths via TakeOrdered, never a global sort") {
    val p = plan("q_event_paths")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_partition_prune: lang resolves as a PARTITION filter — directory pruning, not row filtering") {
    val p = plan("q_partition_prune")
    // the scan prints its filter buckets on one line:
    // "... DataFilters: [...] ... PartitionFilters: [...] PushedFilters: [...] ..."
    def bucket(name: String): String = {
      val i = p.indexOf(s"$name: [")
      if (i < 0) "" else p.substring(i + name.length + 3, p.indexOf("]", i))
    }
    assert(bucket("PartitionFilters").contains("lang"),
      s"lang must be a partition filter:\n$p")
    // and it must NOT be a parquet DATA filter — the whole point is
    // that non-matching directories are never opened at all
    assert(!bucket("PushedFilters").contains("lang") &&
      !bucket("DataFilters").contains("lang"),
      s"lang leaked into data filters:\n$p")
  }

  test("q_bucket_join: bucket-colocated join — no hash-partitioning exchange anywhere") {
    val p = plan("q_bucket_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("Bucketed: true"), s"scan must use the bucketed layout:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side:\n$p")
  }

  test("q_kvbin_agg: the scan's output schema IS the pushed aggregate") {
    val p = plan("q_kvbin_agg")
    // readSchema flips from (key, value) to the agg columns — region
    // data never reaches Spark; KVBinSpec separately pins zero SCAN
    // requests over the wire for this shape
    assert(p.contains("agg_count"), s"aggregate not pushed into the kvbin scan:\n$p")
    assert(p.contains("PushedAggregates=[CountAll, MinKey, MaxKey]"), p)
  }

  test("round-6 entries: no cartesian product anywhere; gram joins stay equi-joins") {
    // q_semantic_dedup's broadcast k-row codebook join is the family's
    // sanctioned BroadcastNestedLoopJoin (model parameters, not data) —
    // so the BNLJ ban applies to the gram/pair joins only
    for (q <- Seq("q_edit_neardup_prefix", "q_semantic_dedup",
        "q_contamination_rate", "q_dedup_best")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
    for (q <- Seq("q_edit_neardup_prefix", "q_contamination_rate")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("q_mix_temperature: one partial+final aggregate pass, 1-row total broadcast back") {
    val p = plan("q_mix_temperature")
    assert(p.contains("partial_"), s"group aggregate must map-side combine:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total must broadcast:\n$p")
  }

  test("bucketed snapshot: an equality key filter prunes to a single bucket") {
    import org.apache.spark.sql.functions.col
    // a bare single-table scan has no distribution requirement, so the
    // planner's auto-bucketed-scan optimization turns bucketing off and
    // with it bucket PRUNING — pin the conf off to assert the pruning
    // path a bucket-requiring plan (join/agg on k) gets by default
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val df = graft.operators.Layout.bucketedSnapshot(spark, sfSmoke, "src")
        .filter(col("k") === "li_0000000001_001")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected single-bucket pruning:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("q_promo_share: part dim broadcasts; fact-side revenue aggregates partial+final") {
    val p = plan("q_promo_share")
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast:\n$p")
    assert(p.contains("partial_"), s"revenue must map-side combine:\n$p")
  }

  test("q_late_orders: the EXISTS decorrelates to a real left-semi join") {
    val p = plan("q_late_orders")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_interleave: no single-partition global sort window; rank windows partition by domain") {
    // the whole point of the broadcast-count arithmetic is that the
    // only Window operators left are the per-domain rank windows —
    // a global row_number would plan Exchange SinglePartition + Window
    val p = plan("q_interleave")
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty, p)
    val single = p.linesIterator.sliding(3).exists(ls =>
      ls.exists(_.contains("SinglePartition")) && ls.exists(_.contains("Window")))
    assert(!single, s"found a single-partition window:\n$p")
  }

  test("q_blocking_suppliers: Q21 shape — one left-semi + one left-anti on the fact, equi-joins only") {
    val p = plan("q_blocking_suppliers")
    // the EXISTS/NOT EXISTS pair must decorrelate to keyed joins on the
    // orderkey (the supplier inequality rides the join condition) —
    // never a per-row subplan or a nested loop over the fact
    assert(p.linesIterator.count(l => l.contains("LeftSemi")) >= 2, p) // l2 + orders gate
    assert(p.linesIterator.exists(l => l.contains("LeftAnti")), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"supplier dim must broadcast:\n$p")
  }

  test("round-7 near-dup and correction joins: equi-joins only, no cartesian anywhere") {
    for (q <- Seq("q_kcore", "q_pmi", "q_spell_correct", "q_phash_neardup",
        "q_mad_outliers", "q_cold_customers", "q_itemsets", "q_winsorize")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
    // the sanctioned 1-row broadcasts (PMI total, cold-customer
    // threshold) are BroadcastNestedLoopJoin by construction; the
    // candidate joins must not be
    for (q <- Seq("q_spell_correct", "q_phash_neardup")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("q_rev_forecast: Q6 shape — every predicate reaches the parquet scan, no join") {
    // formatted explain prints PushedFilters untruncated (the one-line
    // plan string clips the list at 100 chars)
    val df = SparkEntry.queries("q_rev_forecast")(spark, sfSmoke)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // shipdate band + quantity cap push as native filters; the decimal
    // discount band stays a post-scan filter (cast wraps the column) —
    // the scan must still carry the date/quantity prunes
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_shipdate"), s"shipdate not pushed:\n$p")
    assert(p.contains("LessThan(l_quantity,24.0)"), s"quantity not pushed:\n$p")
    assert(!p.contains("Join"), s"Q6 must be scan+agg only:\n$p")
    assert(p.contains("partial_"), s"aggregate must map-side combine:\n$p")
  }

  test("round-8 TPC-H shapes: dims broadcast, facts equi-join, no cartesian") {
    for (q <- Seq("q_regional_revenue", "q_market_share", "q_returned_items",
        "q_excess_parts", "q_profit", "q_priority_class")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q dims must broadcast:\n$p")
    }
    // Q5's shared-nation predicate must ride the customer join (an
    // equi-join on (custkey, nationkey) pair), not survive as a
    // post-join Filter over a nation cross product
    val q5 = plan("q_regional_revenue")
    assert(q5.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, q5)
    // Q10: the returnflag reaches the lineitem scan
    val q10 = plan("q_returned_items")
    val scan = q10.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag")).getOrElse("")
    assert(scan.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed:\n$q10")
  }

  test("q_global_shuffle: the row-rank window partitions by md5 cell, never one global sort") {
    // the ONLY single-partition window allowed is the cumulative-offset
    // pass over the ≤256-row cell CENSUS; the row_number window that
    // touches every data row must partition by the bucket column
    val p = plan("q_global_shuffle")
    val rankWindows = p.linesIterator
      .filter(l => l.contains("row_number") && l.contains("windowspecdefinition")).toSeq
    assert(rankWindows.nonEmpty, p)
    rankWindows.foreach(l =>
      assert(l.contains("__b#"), s"row-rank window not partitioned by cell:\n$l\n$p"))
  }

  test("q_k_anon: suppression is a real left-semi equi-join against the cell census") {
    val p = plan("q_k_anon")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_expectations: the whole contract folds into one partial+final aggregate pass") {
    val p = plan("q_expectations")
    assert(p.contains("partial_"), s"rules must map-side combine:\n$p")
    assert(!p.contains("Join"), s"a rule pass must not join:\n$p")
  }

  test("round-9 joins: no cartesian in removal / itemsets / IVM-join plans") {
    // q_substring_removal's canonical pass, q_itemsets' pruned cube and
    // q_ivm_join's delta joins are all equi-joins on gram/group/key —
    // a cartesian anywhere is the scale-killer. (The sanctioned 1-row
    // volume-guard broadcasts are BroadcastNestedLoopJoin by
    // construction; cartesians are not.)
    for (q <- Seq("q_substring_removal", "q_itemsets", "q_ivm_join",
        "q_kll_quantile", "q_semantic_dedup_auto")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
  }

  test("q_kll_quantile: the register fold is a partial+final grouped min — one data shuffle") {
    val p = plan("q_kll_quantile")
    assert(p.contains("partial_min"), s"slot fold must map-side combine:\n$p")
    // rank windows run over the register table only, never the data:
    // every window partitions by the group key alone (g), and the only
    // exchanges are the slot fold + the groups×k register table's
    assert(p.linesIterator.exists(_.contains("windowspecdefinition")), p)
  }

  test("q_multimodal_kvbin reads through the kvbin DSv2 scan, not a file-per-row source") {
    val p = plan("q_multimodal_kvbin")
    assert(p.toLowerCase.contains("kvbin"), s"expected the kvbin DSv2 scan:\n$p")
    assert(!p.contains("binaryFile"), p)
    assert(p.contains("partial_"), s"content gate must map-side combine:\n$p")
  }

  test("round-9 continuation: no cartesian anywhere in the new family") {
    // every join in the NB / LSH-gate / IVF-PQ / profiler / overlap /
    // funnel / sweep entries is an equi-join on vocab, band key, code,
    // cluster, count key or doc id — the sanctioned broadcasts of
    // 1-to-k-row frames (class totals, LUTs, thresholds, totals) plan
    // as broadcast BNLJ, never cartesian
    for (q <- Seq("q_nb_classify", "q_nb_calibration", "q_lsh_recall",
        "q_ann_ivf_pq", "q_skew_profile", "q_join_hotspots",
        "q_source_overlap", "q_curation_funnel", "q_mean_pool",
        "q_dedup_sweep", "q_langid_confusion")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
  }

  test("q_nb_classify: OOV prune is a semi-join; scoring aggregates map-side") {
    val p = plan("q_nb_classify")
    assert(p.contains("LeftSemi"), s"vocab prune must be a semi-join:\n$p")
    assert(p.contains("partial_"), s"score sum must map-side combine:\n$p")
  }

  test("q_ann_ivf_pq: LUT / probe / shortlist joins broadcast — the corpus never shuffles for scoring") {
    val p = plan("q_ann_ivf_pq")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_skew_profile / q_join_hotspots / q_mean_pool: one partial+final aggregation, no extra corpus pass") {
    for (q <- Seq("q_skew_profile", "q_join_hotspots", "q_mean_pool")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q must map-side combine:\n$p")
      assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    }
  }

  test("round-9 second session: eval gates broadcast their small sides, no cartesian") {
    // silhouette: centroids broadcast into the one corpus kernel scan;
    // retrieval/AUC/PPR: every join is broadcast or key-equi — never a
    // cartesian (the k-row codebook / 5-query truth / rank vector are
    // the broadcast sides)
    // bind each plan ONCE — building these plans runs real jobs
    // (k-means training, PageRank rounds with localCheckpoints)
    val sil = plan("q_silhouette")
    val ret = plan("q_retrieval_quality")
    val auc = plan("q_binary_auc")
    val ppr = plan("q_pagerank_personal")
    for ((q, p) <- Seq("q_silhouette" -> sil, "q_retrieval_quality" -> ret,
        "q_binary_auc" -> auc, "q_pagerank_personal" -> ppr))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    assert(sil.contains("BroadcastNestedLoopJoin") ||
      sil.contains("BroadcastHashJoin"))
    // binaryAuc: corpus collapses to the score histogram FIRST — a
    // partial aggregate must precede the window
    assert(auc.contains("partial_"), auc)
    assert(auc.contains("Window"), auc)
    // PPR: the per-round rank vector joins broadcast
    assert(ppr.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, ppr)
  }

  test("round-9 third session: trend is one agg pass; chi2/HITS broadcast, no cartesian") {
    val trend = plan("q_linear_trend")
    val chi2 = plan("q_chi2_terms")
    val hits = plan("q_hits")
    val surv = plan("q_survival")
    // trend: the five sums map-side combine — ONE corpus pass, no join
    assert(trend.contains("partial_"), trend)
    assert(!trend.contains("Join"), s"trend must not join:\n$trend")
    // chi2: label/corpus totals broadcast into the vocab-sized frame;
    // the only joins are equi (term) or 1-row broadcast (N)
    assert(!chi2.contains("CartesianProduct"), chi2)
    assert(chi2.linesIterator.count(_.contains("BroadcastHashJoin")) >= 1, chi2)
    // HITS: no cartesian anywhere in the final plan; the per-round
    // join shape is pinned on the shared half-step constructor — the
    // rounds sever their plans via lazy checkpoints since r17, so the
    // final plan only shows the top-k over the severed score frames
    assert(!hits.contains("CartesianProduct"), hits)
    locally {
      import spark.implicits._
      val he = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
      val hs = Seq((1L, 1000000L), (3L, 500000L)).toDF("node", "sc")
      val half = graft.operators.Graph.hitsHalfStep(he, hs, "src", "dst")
        .queryExecution.executedPlan.toString
      assert(half.contains("BroadcastHashJoin"), half)
      assert(half.contains("partial_"), half)
      assert(!half.contains("CartesianProduct"), half)
    }
    // survival: the corpus collapses to per-user rows in a partial agg
    // BEFORE the day-granular windows
    assert(surv.contains("partial_"), surv)
    assert(surv.contains("Window"), surv)
  }

  test("q_bitmap_persist: the estimate prices from persisted kvbin cells alone — no corpus re-scan") {
    val p = plan("q_bitmap_persist")
    // the waves scanned events while WRITING; the returned estimate
    // plan must read only the persisted cell table through the kvbin
    // DSv2 scan (a parquet FileScan here = the persistence didn't
    // actually carry the state)
    assert(!p.contains("FileScan parquet"), s"corpus re-scan in the persisted path:\n$p")
    assert(p.contains("BatchScan"), p)
    // the cross-wave fold is a real partial+final aggregate
    assert(p.contains("partial_"), p)
  }

  test("q_kll_persist: the quantile estimate prices from persisted bit-plane cells alone — no corpus re-scan") {
    val p = plan("q_kll_persist")
    // the waves scanned events while WRITING; the returned estimate
    // plan must reassemble registers from the kvbin cell table only —
    // a parquet FileScan here means the persistence didn't carry the
    // (hv, v) pairs and the sketch re-derived them from the corpus
    assert(!p.contains("FileScan parquet"), s"corpus re-scan in the persisted path:\n$p")
    assert(p.contains("BatchScan"), p)
    // the per-wave plane pivot and the cross-wave pair-min are real
    // partial+final aggregates over cells, never a collect
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_stream_kvbin_verdict: the final verdict joins bucket digests — no cartesian, dst via kvbin scan") {
    val p = plan("q_stream_kvbin_verdict")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // dst digests come from the kvbin DSv2 scan (the house connector),
    // not a parquet detour
    assert(p.contains("BatchScan"), p)
    assert(!p.contains("FileScan parquet"), p)
  }
}
