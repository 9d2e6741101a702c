package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession, functions}

/** One planted difference between the src and dst clusters: key index
  * `idx` is a value `mismatch`, a `src_only` deletion from dst, or a
  * `dst_only` insertion of the odd key between idx and idx + 1. */
final case class Planted(idx: Long, cls: String) {
  def key: Array[Byte] = Gen.key(if (cls == "dst_only") 2 * idx + 1 else 2 * idx)
}

/** A generated cluster pair: src holds keys 2·i for i in [0, n), each a
  * 16-byte key with a 96-byte value (112-byte pairs); dst is src with
  * the planted differences applied. */
final case class KVPlan(seed: Long, n: Long, planted: IndexedSeq[Planted]) {
  private def count(cls: String) = planted.count(_.cls == cls).toLong
  def srcKvs: Long = n
  def dstKvs: Long = n - count("src_only") + count("dst_only")
  /** Planted differences whose key index lies in [a, b). */
  def within(a: Long, b: Long): IndexedSeq[Planted] =
    planted.filter(p => p.idx >= a && p.idx < b)
}

/** A generated corpus: (id, text) documents and the planted
  * near-duplicate clusters (member ids). Members of a cluster differ by
  * one substituted word each, so every member pair sits far above the
  * dedup threshold; all other documents are independent random word
  * sequences, far below it. */
final case class Corpus(docs: IndexedSeq[(Long, String)], clusters: IndexedSeq[IndexedSeq[Long]],
                        pairJaccard: Map[(Long, Long), Double]) {
  def bytes: Long = docs.map(_._2.length.toLong).sum
  def members: Set[Long] = clusters.flatten.toSet
}

/** Seeded input generators. The same seed gives byte-identical inputs;
  * graft sees only the generated frames and files. */
object Gen {
  val KeyPrefix: Array[Byte] = "graftkv:".getBytes(UTF_8)
  val KeyBytes = 16
  val ValueBytes = 96
  val PairBytes: Long = KeyBytes + ValueBytes

  def key(k: Long): Array[Byte] =
    KeyPrefix ++ java.nio.ByteBuffer.allocate(8).putLong(k).array()
  def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def keyCol(k: Column): Column =
    concat(lit(KeyPrefix), unhex(lpad(functions.hex(k), 16, "0")))
  private def valueCol(seed: Long, i: Column, salt: String): Column =
    concat(Seq("a", "b", "c").map(p => unhex(sha2(
      concat_ws("/", lit(seed.toString), i.cast("string"), lit(salt + p)), 256))): _*)

  private def cls(r: Int): String = r match {
    case 0 | 1 => "mismatch"
    case 2 => "src_only"
    case _ => "dst_only"
  }

  /** Near-sync divergence: `clusters` runs of `size` consecutive keys,
    * each key differing, placed apart in key space. */
  def nearSync(seed: Long, n: Long, clusters: Int, size: Int): KVPlan = {
    val rng = new SplittableRandom(seed * 1000003L + 11)
    val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (starts.size < clusters) {
      val s = rng.nextLong(n - size)
      if (starts.forall(o => math.abs(o - s) > 4L * size)) starts += s
    }
    KVPlan(seed, n, starts.sorted.toIndexedSeq.flatMap(s =>
      (0 until size).map(j => Planted(s + j, cls(rng.nextInt(4))))))
  }

  /** (src, dst) binary (key, value) frames of `plan`, computed by Spark
    * from the seed (sha-256 expanded values), `parts` partitions. */
  def frames(spark: SparkSession, plan: KVPlan, parts: Int): (DataFrame, DataFrame) = {
    def ids(of: String) = plan.planted.filter(_.cls == of).map(_.idx)
    val (mismatch, srcOnly, dstOnly) = (ids("mismatch"), ids("src_only"), ids("dst_only"))
    val all = spark.range(0, plan.n, 1, parts)
    val src = all.select(keyCol(col("id") * 2).as("key"),
      valueCol(plan.seed, col("id"), "s").as("value"))
    val kept = all.filter(!col("id").isin(srcOnly: _*))
      .select(keyCol(col("id") * 2).as("key"),
        when(col("id").isin(mismatch: _*), valueCol(plan.seed, col("id"), "m"))
          .otherwise(valueCol(plan.seed, col("id"), "s")).as("value"))
    val inserted = spark.createDataset(dstOnly)(Encoders.scalaLong).toDF("id")
      .select(keyCol(col("id") * 2 + 1).as("key"), valueCol(plan.seed, col("id"), "d").as("value"))
    (src, kept.unionByName(inserted))
  }

  /** Order-independent content hash of a frame's rows:
    * rows : xor of per-row xxhash64 : total column bytes. */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.map(col).toSeq
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))"),
      cols.map(c => coalesce(sum(length(c).cast("long")), lit(0L))).reduce(_ + _)).head()
    f"${r.getLong(0)}:${r.getLong(1)}%016x:${r.getLong(2)}"
  }

  /** sha-256 of the corpus rows in id order, `id\ttext\n` each. */
  def contentHash(c: Corpus): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    c.docs.sortBy(_._1).foreach { case (id, t) => md.update(s"$id\t$t\n".getBytes(UTF_8)) }
    hex(md.digest())
  }

  def shingles(words: IndexedSeq[String], n: Int): Set[String] =
    if (words.size < n) Set(words.mkString(" "))
    else words.sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size.toDouble

  /** A corpus of `nDocs` documents of 60–100 words over a 20k-word
    * vocabulary. One document in `1/clusterEvery` roots a planted
    * cluster of 2–4 members (the root plus variants, each with one
    * word substituted). Exact member-pair Jaccard over word
    * `shingleN`-grams is computed here and must clear `minMemberJaccard`. */
  def corpus(seed: Long, nDocs: Int, clusterEvery: Int, shingleN: Int,
             minMemberJaccard: Double): Corpus = {
    val rng = new SplittableRandom(seed * 1000003L + 47)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 20000)
        seen += Iterator.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    def word() = vocab(rng.nextInt(vocab.size))
    def doc() = IndexedSeq.fill(60 + rng.nextInt(41))(word())
    val groups = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[IndexedSeq[String]]]
    var placed = 0
    while (placed < nDocs) {
      val root = doc()
      val size = if (rng.nextInt(clusterEvery) == 0) math.min(2 + rng.nextInt(3), nDocs - placed) else 1
      groups += root +: IndexedSeq.fill(size - 1) {
        val pos = rng.nextInt(root.size)
        var w = word()
        while (w == root(pos)) w = word()
        root.updated(pos, w)
      }
      placed += size
    }
    // ids are a seeded permutation, so cluster members are not adjacent
    val ids = {
      val a = Array.tabulate(nDocs)(_.toLong)
      var i = nDocs - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    var next = 0
    val docs = IndexedSeq.newBuilder[(Long, String)]
    val clusters = IndexedSeq.newBuilder[IndexedSeq[Long]]
    val pairJ = Map.newBuilder[(Long, Long), Double]
    groups.foreach { g =>
      val gid = g.map { words => val id = ids(next); next += 1; docs += ((id, words.mkString(" "))); id }
      if (g.size > 1) {
        clusters += gid
        val sh = g.map(shingles(_, shingleN))
        for (x <- g.indices; y <- g.indices if x < y) {
          val j = jaccard(sh(x), sh(y))
          require(j >= minMemberJaccard,
            s"generator: planted pair jaccard $j below $minMemberJaccard")
          pairJ += ((math.min(gid(x), gid(y)), math.max(gid(x), gid(y))) -> j)
        }
      }
    }
    Corpus(docs.result(), clusters.result(), pairJ.result())
  }
}
