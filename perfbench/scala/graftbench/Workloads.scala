package graftbench

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.functions.Checksum
import graft.operators.{Dedup, Diff, MemoStats}
import graft.sources.kvbin.{KVBin, KVBinServer, KVBinSource}

/** An op's output disagreed with what the generator planted. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

final class Ctx(val spark: SparkSession, val seed: Long, val work: File,
                val tracer: Tracer, val cores: Int) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One finished op: the input bytes it covered, and the check of its
  * outputs against the generator's plant. The harness runs the check
  * after the op's timer stops; a check throws [[CheckFailed]]. */
final case class Done(bytes: Long, check: () => Unit)

/** A benchmark workload: a set-up that builds its inputs through graft,
  * and one op repeated in a closed loop. */
trait Workload {
  def opName: String
  /** Build the inputs from the seed and run one checked warm-up op. */
  def setup(): Unit
  def op(i: Int): Done
  /** Content hashes of the generated inputs (computed outside timing). */
  def inputHashes(): Map[String, String]
  /** Input sizes, for the report. */
  def sizes: Map[String, Double]
  /** Workload ratios collected over the traced ops. */
  def ratios(tracedOps: Int): Map[String, Double] = Map.empty
  /** Latencies (ms) of timed parts of an op, by part name. */
  val parts = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  def close(): Unit = ()

  protected def timed[T](part: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally parts.getOrElseUpdate(part, scala.collection.mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e6
  }

  /** The set-up's warm-up op has index -1; layer ratios count only
    * traced ops of the measured loop, so they skip it. */
  protected def warmUp(): Unit = op(-1).check()
  protected def counting(i: Int, ctx: Ctx): Boolean = ctx.tracer.enabled && i >= 0
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kv_nearsync" => new NearSync(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirBytes(dir: String): Long =
    Option(new File(dir).listFiles).map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
}

import Workloads.check

/** Verdict row fields: a side's (crc64_xor, total_kvs, total_bytes). */
final case class Verdict(src: (Long, Long, Long), dst: (Long, Long, Long), matches: Boolean)

/** A generated near-sync cluster pair. One op:
  *  1. verify: `Checksum.verdict` over both kvbin tables, then
  *     `Diff.checksumPrunedDiff` (the reference tool's `checksum` then
  *     `diff`);
  *  2. range checks: range-scoped verdicts over seeded key ranges, read
  *     through loopback `KVBinServer` endpoints; the last range of each
  *     op holds planted keys and is also diffed, the others hold none.
  * Each part is also timed on its own ([[Workload.parts]]). */
class NearSync(ctx: Ctx, keys: Long = 100000L, regions: Int = 16,
               width: Long = 4096L, rangesPerOp: Int = 10) extends Workload {
  import ctx.spark
  val opName = "verify_and_range_checks"
  val plan: KVPlan = Gen.nearSync(ctx.seed, keys, clusters = 4, size = 12)
  val srcDir: String = new File(ctx.work, "src").getPath
  val dstDir: String = new File(ctx.work, "dst").getPath
  private var servers: Seq[KVBinServer] = Nil
  private var clusterBytes = 0L
  // accumulated over the measured traced ops only
  private var readBytes, scans, checksums, rediffRows, diffKeys = 0L

  def sizes: Map[String, Double] = Map(
    "keys_per_side" -> keys.toDouble, "pair_bytes" -> Gen.PairBytes.toDouble,
    "regions_per_side" -> regions.toDouble, "planted_diffs" -> plan.planted.size.toDouble,
    "range_keys" -> width.toDouble, "ranges_per_op" -> rangesPerOp.toDouble)

  def setup(): Unit = {
    servers.foreach(_.close())
    Seq(srcDir, dstDir).foreach(d => Workloads.deleteTree(new File(d)))
    val (src, dst) = ctx.span("gen")(Gen.frames(spark, plan, ctx.cores))
    ctx.span("KVBin.write")(KVBin.write(src, srcDir, regions))
    ctx.span("KVBin.write")(KVBin.write(dst, dstDir, regions))
    clusterBytes = Workloads.dirBytes(srcDir) + Workloads.dirBytes(dstDir)
    val conf = spark.sparkContext.hadoopConfiguration
    servers = ctx.span("KVBinServer.start")(Seq(new KVBinServer(srcDir, conf), new KVBinServer(dstDir, conf)))
    warmUp()
  }

  def inputHashes(): Map[String, String] = {
    val (src, dst) = Gen.frames(spark, plan, ctx.cores)
    Map("src" -> Gen.contentHash(src), "dst" -> Gen.contentHash(dst))
  }

  override def close(): Unit = servers.foreach(_.close())

  private def verdict(src: DataFrame, dst: DataFrame): Verdict = {
    val r = ctx.span("Checksum.verdict")(Checksum.verdict(src, dst).collect().head)
    def side(p: String) = (r.getAs[Long](s"${p}_crc64_xor"), r.getAs[Long](s"${p}_total_kvs"),
      r.getAs[Long](s"${p}_total_bytes"))
    Verdict(side("src"), side("dst"), r.getAs[Boolean]("matches"))
  }

  private def checkVerdict(v: Verdict, matches: Boolean, srcKvs: Long, dstKvs: Long): Unit =
    check(v.matches == matches && v.src._2 == srcKvs && v.dst._2 == dstKvs &&
      v.src._3 == srcKvs * Gen.PairBytes && v.dst._3 == dstKvs * Gen.PairBytes,
      s"verdict $v, expected matches=$matches with $srcKvs/$dstKvs kvs")

  /** checksumPrunedDiff, collected; `countRows` adds its re-diffed rows
    * to rediff_rows_per_diff_key. */
  private def prunedDiff(a: DataFrame, b: DataFrame, countRows: Boolean): (DataFrame, Array[Row]) = {
    val (d, rows) = ctx.span("Diff.checksumPrunedDiff") {
      val d = Diff.checksumPrunedDiff(a, b)
      (d, d.collect())
    }
    if (countRows) {
      import org.apache.spark.sql.catalyst.plans.FullOuter
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      rediffRows += PlanRows.of(d) {
        case j: BaseJoinExec => j.joinType == FullOuter && j.output.exists(_.name == "src_value")
      }.sum
      diffKeys += rows.length
    }
    (d, rows)
  }

  private def expectedDiff(planted: Seq[Planted]): Set[(String, String)] =
    planted.map(p => (Gen.hex(p.key), p.cls)).toSet

  private def checkDiff(rows: Array[Row], expected: Set[(String, String)]): Unit = {
    val got = rows.map(r => (Gen.hex(r.getAs[Array[Byte]]("key")), r.getAs[String]("diff_class"))).toSet
    check(rows.length == got.size && got == expected,
      s"diff: ${got.size} keys (${rows.length} rows), expected ${expected.size}; " +
        s"missing ${(expected -- got).take(3)}, extra ${(got -- expected).take(3)}")
  }

  private val rng = new java.util.SplittableRandom(ctx.seed * 7919L + 3)

  /** Start of a range [a, a + width) in key-index space, covering a
    * planted key or avoiding all of them. */
  private def rangeStart(hit: Boolean): Long =
    if (hit) {
      val p = plan.planted(rng.nextInt(plan.planted.size)).idx
      math.max(0L, math.min(p - rng.nextLong(width), keys - width))
    } else {
      var a = rng.nextLong(keys - width + 1)
      while (plan.within(a, a + width).nonEmpty) a = rng.nextLong(keys - width + 1)
      a
    }

  private def serverRequests: (Long, Long) =
    (servers.map(_.scanRequests.get).sum, servers.map(_.checksumRequests.get).sum)

  def op(i: Int): Done = {
    val r0 = Tracer.fsRead()
    val (src, dst) = (KVBin.read(spark, srcDir), KVBin.read(spark, dstDir))
    val counted = counting(i, ctx)
    val (v, rows) = timed("verify")((verdict(src, dst), prunedDiff(src, dst, countRows = counted)._2))
    if (counted) readBytes += Tracer.fsRead() - r0

    val (scans0, checksums0) = serverRequests
    val ranges = (1 to rangesPerOp).map(j => rangeCheck(rangeStart(hit = j == rangesPerOp)))
    if (counted) {
      val (s1, c1) = serverRequests
      scans += s1 - scans0
      checksums += c1 - checksums0
    }

    Done(clusterBytes, () => {
      checkVerdict(v, matches = false, plan.srcKvs, plan.dstKvs)
      checkDiff(rows, expectedDiff(plan.planted))
      ranges.foreach(_())
    })
  }

  /** One range check; returns its output check. */
  private def rangeCheck(a: Long): () => Unit = timed("range_check") {
    val (lo, hi) = (Gen.key(2 * a), Gen.key(2 * (a + width)))
    def scoped(server: KVBinServer) = spark.read.format(classOf[KVBinSource].getName)
      .option("endpoints", server.address).load()
      .filter(col("key") >= lit(lo) && col("key") < lit(hi))
    val (src, dst) = (scoped(servers(0)), scoped(servers(1)))
    val v = verdict(src, dst)
    val rows = if (v.matches) Array.empty[Row] else prunedDiff(src, dst, countRows = false)._2
    val planted = plan.within(a, a + width)
    val dstKvs = width - planted.count(_.cls == "src_only") + planted.count(_.cls == "dst_only")
    () => {
      checkVerdict(v, matches = planted.isEmpty, width, dstKvs)
      checkDiff(rows, expectedDiff(planted))
    }
  }

  override def ratios(tracedOps: Int): Map[String, Double] = Map(
    "scan_amplification" -> readBytes.toDouble / clusterBytes / tracedOps.max(1),
    "rediff_rows_per_diff_key" -> rediffRows.toDouble / diffKeys.max(1L),
    "KVBinServer.scan_requests" -> scans.toDouble / tracedOps.max(1),
    "KVBinServer.checksum_requests" -> checksums.toDouble / tracedOps.max(1))
}

/** Generated corpus with planted near-duplicate clusters: clear the
  * memos, MinHash near-dup pairs, then drop near duplicates on the same
  * frame (which may reuse the first call's shingle-index memo). The two
  * parts are timed on their own: "minhash" (clear + minhashNearDup, cold)
  * and "drop" (dropNearDuplicates after it). */
class CorpusDedup(ctx: Ctx, docs: Int = 1500, tau: Double = 0.7) extends Workload {
  import ctx.spark
  val opName = "dedup"
  val corpus: Corpus = Gen.corpus(ctx.seed, docs, clusterEvery = 12, shingleN = 3,
    minMemberJaccard = tau + 0.1)
  val dir: String = new File(ctx.work, "corpus").getPath
  private val unclustered = corpus.docs.map(_._1).filterNot(corpus.members)
  // accumulated over the measured traced ops only
  private var touches, candidates, verified = 0L

  def sizes: Map[String, Double] = Map("docs" -> docs.toDouble,
    "corpus_MB" -> corpus.bytes / 1e6, "clusters" -> corpus.clusters.size.toDouble,
    "cluster_members" -> corpus.members.size.toDouble)

  def setup(): Unit = {
    Workloads.deleteTree(new File(dir))
    ctx.span("gen") {
      import spark.implicits._
      corpus.docs.toDF("id", "text").repartition(ctx.cores).write.parquet(dir)
    }
    warmUp()
  }

  def inputHashes(): Map[String, String] = Map("corpus" -> Gen.contentHash(corpus))

  def op(i: Int): Done = {
    val frame = spark.read.parquet(dir)
    val t0 = MemoStats.touches.get
    val (pairsDf, pairs) = timed("minhash") {
      ctx.span("Dedup.clearCaches")(Dedup.clearCaches())
      ctx.span("Dedup.minhashNearDup") {
        val p = Dedup.minhashNearDup(frame, "text", "id", tau)
        (p, p.collect())
      }
    }
    val kept = timed("drop")(ctx.span("Dedup.dropNearDuplicates") {
      Dedup.dropNearDuplicates(frame, "text", "id", tau).select("id").collect()
    })
    if (counting(i, ctx)) {
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      touches += MemoStats.touches.get - t0
      verified += pairs.length
      // the LSH candidate set: the distinct (doc_a, doc_b) aggregate
      // feeding the exact-Jaccard verification
      // (its final, smallest, aggregate)
      candidates += PlanRows.of(pairsDf) {
        case a: HashAggregateExec => a.aggregateExpressions.isEmpty &&
          a.groupingExpressions.map(_.references.head.name) == Seq("doc_a", "doc_b")
      }.minOption.getOrElse(0L)
    }
    Done(corpus.bytes, () => {
      val got = pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
      val want = corpus.pairJaccard
      // LSH recall is probabilistic: 16 bands of 4 miss a pair at Jaccard
      // 0.8 with probability ~2e-4, so a few of ~300 planted pairs may go
      // missing; every pair returned must be planted, with its exact Jaccard
      val missing = want.keySet -- got.keySet
      check(got.keySet.subsetOf(want.keySet) && missing.size <= want.size / 100 &&
        got.forall { case (k, j) => math.abs(j - want(k)) < 1e-9 },
        s"minhash pairs: ${got.size} found, ${want.size} planted; " +
          s"extra ${(got.keySet -- want.keySet).take(3)}, missing ${missing.take(3)}")
      val ids = kept.map(_.getLong(0)).toSet
      val survivors = corpus.clusters.map(_.count(ids))
      val dropped = unclustered.count(id => !ids(id))
      check(survivors.forall(_ == 1) && dropped == 0 && ids.size == kept.length,
        s"dropNearDuplicates: ${survivors.count(_ != 1)} clusters without exactly one survivor, " +
          s"$dropped unclustered docs dropped, ${kept.length} rows kept")
    })
  }

  override def ratios(tracedOps: Int): Map[String, Double] = Map(
    "memo_touches_per_op" -> touches.toDouble / tracedOps.max(1),
    "candidates_per_verified_pair" -> candidates.toDouble / verified.max(1L))
}
