package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}

/** A KV pair — the reference's entire data model
  * (`scan/scan.go:45`, `diff/diff.go:36,40`: parallel byte-slice arrays). */
case class KVPair(key: Array[Byte], value: Array[Byte])

/** The reference's checksum triple (`rawkv.RawChecksum`), merged with
  * XOR / sum / sum — a commutative monoid with identity (0,0,0)
  * (`checksum/checksum.go:25-29`), hence exactly partial+final
  * aggregatable by Catalyst with no ordering constraints. */
case class RawChecksum(crc64_xor: Long, total_kvs: Long, total_bytes: Long) {
  def merge(o: RawChecksum): RawChecksum =
    RawChecksum(crc64_xor ^ o.crc64_xor, total_kvs + o.total_kvs, total_bytes + o.total_bytes)
}

object RawChecksum {
  val zero: RawChecksum = RawChecksum(0L, 0L, 0L)
  def of(key: Array[Byte], value: Array[Byte]): RawChecksum =
    RawChecksum(Crc64.crc64(key, value), 1L, key.length.toLong + value.length.toLong)

  /** The monoid folded over (key, value) pairs, starting at `from` — the
    * one Scala-side fold, used by the server's CHECKSUM verb, the local
    * region client and the per-group streaming state. */
  def fold(pairs: Iterator[(Array[Byte], Array[Byte])], from: RawChecksum = zero): RawChecksum = {
    var crc = from.crc64_xor; var kvs = from.total_kvs; var bytes = from.total_bytes
    pairs.foreach { case (k, v) =>
      crc ^= Crc64.crc64(k, v); kvs += 1L; bytes += k.length.toLong + v.length.toLong
    }
    RawChecksum(crc, kvs, bytes)
  }
}

/** Typed Aggregator form — `ds.select(ChecksumAggregator.toColumn)`.
  * The `merge` is the reference's `UpdateChecksum`
  * (`checksum/checksum.go:25-29`); Catalyst applies it across partitions
  * exactly like the reference's worker pool + mutex
  * (`checksum/checksum.go:78-95`) but without the lock. */
object ChecksumAggregator extends Aggregator[KVPair, RawChecksum, RawChecksum] {
  override def zero: RawChecksum = RawChecksum.zero
  override def reduce(b: RawChecksum, a: KVPair): RawChecksum =
    b.merge(RawChecksum.of(a.key, a.value))
  override def merge(b1: RawChecksum, b2: RawChecksum): RawChecksum = b1.merge(b2)
  override def finish(r: RawChecksum): RawChecksum = r
  override def bufferEncoder: Encoder[RawChecksum] = Encoders.product[RawChecksum]
  override def outputEncoder: Encoder[RawChecksum] = Encoders.product[RawChecksum]
}

/** DataFrame-level checksum formulations. Every one is the same two
  * steps: [[triples]] projects each row to its triple, and [[fold]] is
  * THE triple aggregate (XOR / sum / sum) over triple rows of any grain —
  * one per pair, one per region, one in all. The aggregate stays inside
  * whole-stage codegen (crc64 is a codegen'd Expression; xor/sum are
  * built-in declarative aggregates) — this is the 100 TB path: map-side
  * partial agg reduces each partition to a 3-long buffer before any
  * shuffle. */
object Checksum {
  import Crc64Expr._

  private val Parts = Seq("crc64_xor", "total_kvs", "total_bytes")

  /** One triple row per KV row, plus `keep` columns (a bucket, a window):
    * `(crc64_xor, total_kvs, total_bytes)` = `(crc64(key‖value), 1,
    * len(key) + len(value))`. A row with a NULL key or value is the
    * triple `(null, 0, null)`: it stays out of ALL THREE components,
    * preserving the monoid / partition-invariance contract on inputs
    * containing nulls. */
  def triples(kv: DataFrame, keep: Column*): DataFrame =
    kv.select(keep ++ Seq(
      crc64Pair(col("key"), col("value")).as("crc64_xor"),
      (col("key").isNotNull && col("value").isNotNull).cast("long").as("total_kvs"),
      (length(col("key")).cast("long") + length(col("value")).cast("long"))
        .as("total_bytes")): _*)

  /** The triple monoid (`checksum/checksum.go:25-29`) as ONE Catalyst
    * aggregate over triple rows: `<prefix>crc64_xor`, `<prefix>total_kvs`,
    * `<prefix>total_bytes`. Only rows where `rows` holds are folded (the
    * verdict's side tag). With `identity` a fold over no row is (0, 0, 0),
    * as a whole-input checksum must be; grouped folds pass `false`, so a
    * group whose only rows are null keeps a null crc and byte count. */
  private def merged(prefix: String, rows: Option[Column], identity: Boolean): Seq[Column] = {
    def part(name: String, agg: Column => Column, zero: Boolean) = {
      val folded = agg(rows.fold(col(name))(when(_, col(name))))
      (if (zero) coalesce(folded, lit(0L)) else folded).as(prefix + name)
    }
    Seq(part("crc64_xor", bit_xor, identity), part("total_kvs", sum, zero = true),
      part("total_bytes", sum, identity))
  }

  /** Triple rows folded to one `(crc64_xor, total_kvs, total_bytes)` per
    * group of `keys` — or to one row in all, the monoid identity on empty
    * input, when there are no keys. */
  def fold(triples: DataFrame, keys: Column*): DataFrame = {
    val m = merged("", None, identity = keys.isEmpty)
    triples.groupBy(keys: _*).agg(m.head, m.tail: _*)
  }

  /** `a_crc64_xor = b_crc64_xor AND` the same for the count and byte
    * columns — the reference's struct `==` (`checksum/checksum.go:173-178`). */
  def matches(a: String, b: String): Column =
    Parts.map(p => col(s"${a}_$p") === col(s"${b}_$p")).reduce(_ && _)

  /** A triple frame's three columns renamed `<side>_crc64_xor` etc., after
    * the `keep` columns. */
  def sided(triple: DataFrame, side: String, keep: String*): DataFrame =
    triple.select(keep.map(col) ++ Parts.map(p => col(p).as(s"${side}_$p")): _*)

  /** One-row DataFrame `(crc64_xor, total_kvs, total_bytes)` over a KV frame.
    * Null-safe: empty input yields the monoid identity (0, 0, 0). */
  def of(kv: DataFrame): DataFrame = fold(triples(kv))

  /** Grouped (per-bucket) checksum — the reference's per-region report
    * (`checksum/checksum.go:89-90` prints one checksum per sub-range). */
  def byBucket(kv: DataFrame, bucket: Column): DataFrame =
    fold(triples(kv, bucket.as("bucket")), col("bucket"))

  /** Incremental checksum maintenance — the payoff of the XOR monoid:
    * crc64-xor is SELF-INVERSE (x ^ x = 0), so removing a pair from a
    * snapshot's digest is the same XOR that added it. Given a base
    * snapshot's checksum triple and a change delta (deleted pairs,
    * inserted pairs — an update is one of each), the new snapshot's
    * exact checksum is
    *   crc = base ^ crc(deletes) ^ crc(inserts)
    *   kvs = base − kvs(deletes) + kvs(inserts)      (bytes likewise)
    * — no rescan of the 100 TB base, just a pass over the delta. This is
    * why the reference's digest is XOR-folded rather than sequential
    * (`checksum/checksum.go:25-29`): continuous re-verification against
    * a change stream costs O(delta), not O(snapshot). */
  def applyDelta(base: DataFrame, deletes: DataFrame, inserts: DataFrame): DataFrame =
    sided(base, "base").crossJoin(sided(of(deletes), "del")).crossJoin(sided(of(inserts), "ins"))
      .select(
        (col("base_crc64_xor").bitwiseXOR(col("del_crc64_xor"))
          .bitwiseXOR(col("ins_crc64_xor"))).as("crc64_xor"),
        (col("base_total_kvs") - col("del_total_kvs") + col("ins_total_kvs")).as("total_kvs"),
        (col("base_total_bytes") - col("del_total_bytes") + col("ins_total_bytes"))
          .as("total_bytes"))

  /** The reference's flagship verdict (`checksum/checksum.go:173-178`):
    * compare src and dst checksum triples, one row with both + match flag. */
  def verdict(src: DataFrame, dst: DataFrame): DataFrame =
    verdictFromTriples(triples(src), triples(dst))

  /** [[verdict]] over each side's `(crc64_xor, total_kvs, total_bytes)`
    * triple rows at any grain: one per pair ([[triples]]), one per region
    * (pushed server-side checksums), or one in all. The two sides are
    * tagged and unioned under ONE global aggregate holding both sides'
    * folds, so the verdict is one plan of at most two Spark jobs (the
    * partial-aggregate stage and the result) and both sides' reads — or
    * both sides' CHECKSUM RPCs — run in the same job, which covers the
    * reference's src/dst errgroup (`checksum/checksum.go:140-169`). */
  def verdictFromTriples(srcTriple: DataFrame, dstTriple: DataFrame): DataFrame = {
    def tagged(t: DataFrame, src: Boolean) =
      t.select(lit(src).as("__src") +: Parts.map(col): _*)
    val m = merged("src_", Some(col("__src")), identity = true) ++
      merged("dst_", Some(!col("__src")), identity = true)
    tagged(srcTriple, src = true).unionAll(tagged(dstTriple, src = false))
      .agg(m.head, m.tail: _*)
      .withColumn("matches", matches("src", "dst"))
  }
}
