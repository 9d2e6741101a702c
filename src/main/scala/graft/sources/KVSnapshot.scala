package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deterministic KV-snapshot sources emulating the reference's two TiKV
  * clusters (SURVEY.md §1: schema is always `(key: bytes, value: bytes)`,
  * unsigned-lexicographic key order).
  *
  * Derived purely from the driver's `lineitem` parquet so the DuckDB
  * oracle can rebuild the identical snapshots in SQL (see
  * `SparkEntry.oracleSql` — `KVSnapshot.duckdbCte` is the SQL twin of
  * this file; keep the two in lock-step).
  *
  *   key   = "li_" ‖ lpad(l_orderkey,10,'0') ‖ "_" ‖ lpad(l_linenumber,3,'0')
  *   value = returnflag|linestatus|quantity|extendedprice|shipdate
  *
  * dst = src with seeded divergence (mod-97 arithmetic on l_orderkey):
  *   m ==  7 → row deleted in dst            (diff class: src_only)
  *   m == 13 → value suffixed with "#MUT"    (diff class: mismatch)
  *   m == 19 ∧ l_linenumber == 1 → extra key "…_ins"="INSERTED" (dst_only)
  */
object KVSnapshot {

  /** String-typed (k, v, m, ln) base frame; m/ln drive the divergence.
    * `(l_orderkey, l_linenumber)` is NOT unique in the synthetic data, so
    * the frame is grouped on k taking min(v) — a KV store has unique
    * keys; the dedup rule is deterministic and mirrored in `duckdbCte`. */
  private def base(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.select(
        concat(
          lit("li_"),
          lpad(col("l_orderkey").cast("string"), 10, "0"),
          lit("_"),
          lpad(col("l_linenumber").cast("string"), 3, "0")).as("k"),
        concat_ws("|",
          col("l_returnflag"),
          col("l_linestatus"),
          col("l_quantity").cast("decimal(12,2)").cast("string"),
          col("l_extendedprice").cast("decimal(14,2)").cast("string"),
          date_format(col("l_shipdate"), "yyyy-MM-dd")).as("v"),
        (col("l_orderkey") % 97).as("m"),
        col("l_linenumber").as("ln"))
      .groupBy(col("k"))
      .agg(min(col("v")).as("v"), min(col("m")).as("m"), min(col("ln")).as("ln"))
  }

  private def toKV(df: DataFrame): DataFrame =
    df.select(col("k").cast("binary").as("key"), col("v").cast("binary").as("value"))

  // --- snapshot materialization ---------------------------------------
  // The derivation above (read lineitem → project → groupBy) is a
  // *fixture generator*, not a source: a filter above it cannot reach any
  // parquet scan, and two-sided queries would re-derive it per side
  // (round-1 verdict #4). So each (dir, side) snapshot is materialized
  // ONCE per JVM as range-partitioned parquet — the analog of a TiKV
  // cluster already holding region-sorted data (`checksum/checksum.go:52-65`
  // builds sub-ranges from region metadata; here each parquet file is a
  // "region" with min/max key stats). Downstream range filters then prune
  // at the parquet scan (PushedFilters + file skipping), which is the
  // 100 TB story: a scan of `[start,end)` touches only overlapping files.
  // Per-JVM temp dir (no cross-run reuse) so a derivation change can
  // never serve stale snapshots.
  private val matRangePartitions = 16
  // counter-named subdirs + recursive exit cleanup via the shared store
  // (a bare deleteOnExit left every JVM's snapshot copies in tmp)
  private val matStore = new FixtureStore("graft-kvsnap-")

  private def materialize(spark: SparkSession, dir: String, side: String,
                          build: => DataFrame): DataFrame = {
    val path = matStore(s"$dir/$side", side) { p =>
      build.repartitionByRange(matRangePartitions, col("key"))
        .sortWithinPartitions(col("key"))
        .write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(path)
  }

  /** String-typed src snapshot (columns k, v) — for oracle-facing queries.
    * Derived from the materialized binary snapshot (keys/values are
    * ASCII) so both forms share one scan + one derivation. */
  def srcStr(spark: SparkSession, dir: String): DataFrame =
    src(spark, dir).select(col("key").cast("string").as("k"), col("value").cast("string").as("v"))

  /** String-typed dst snapshot with injected divergence (columns k, v). */
  def dstStr(spark: SparkSession, dir: String): DataFrame =
    dst(spark, dir).select(col("key").cast("string").as("k"), col("value").cast("string").as("v"))

  private def deriveDst(spark: SparkSession, dir: String): DataFrame = {
    val b = base(spark, dir)
    val kept = b.filter(col("m") =!= 7)
      .select(col("k"),
        when(col("m") === 13, concat(col("v"), lit("#MUT"))).otherwise(col("v")).as("v"))
    val inserted = b.filter(col("m") === 19 && col("ln") === 1)
      .select(concat(col("k"), lit("_ins")).as("k"), lit("INSERTED").as("v"))
    kept.unionAll(inserted)
  }

  /** Binary (key, value) src snapshot — the parity operators' input.
    * Materialized range-partitioned parquet; filters on `key` push down. */
  def src(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "src", toKV(base(spark, dir)))

  /** Binary (key, value) dst snapshot. */
  def dst(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "dst", deriveDst(spark, dir)
      .select(col("k").cast("binary").as("key"), col("v").cast("binary").as("value")))

  /** src snapshot stored as kvbin region files and served through the
    * [[graft.sources.kvbin.KVBinSource]] DSv2 connector — the live-
    * cluster-connector code path (range pushdown prunes region files at
    * planning time instead of parquet row groups). */
  def srcBin(spark: SparkSession, dir: String): DataFrame =
    graft.sources.kvbin.KVBin.read(spark, srcBinPath(spark, dir))

  private def srcBinPath(spark: SparkSession, dir: String): String =
    matStore(s"$dir/srcbin", "srcbin") { p =>
      graft.sources.kvbin.KVBin.write(toKV(base(spark, dir)), p, matRangePartitions)
    }

  private val serverCache =
    scala.collection.mutable.Map.empty[String, graft.sources.kvbin.KVBinServer]

  /** The src snapshot read THROUGH a live loopback kvbin server: the
    * same region files as [[srcBin]], but the planning metadata and
    * every region's bytes arrive over the [[graft.sources.kvbin
    * .SocketRegionClient]] dial path (the `endpoints` option) — the
    * network half of the connector on the CORRECTNESS gate, not just in
    * specs. One daemon server per (JVM, snapshot); it stays up for the
    * JVM's lifetime because the returned frame is lazy and every later
    * re-evaluation re-dials it (daemon threads, loopback socket — no
    * lingering non-daemon resources). */
  def srcBinSocket(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.kvbin.KVBinSource
    val path = srcBinPath(spark, dir)
    val server = serverFor(spark, path)
    spark.read.format(classOf[KVBinSource].getName)
      .option("path", path)
      .option("endpoints", server.address)
      .option("api_version", "V1")
      .load()
  }

  private def serverFor(spark: SparkSession, path: String,
                        variant: String = "",
                        owns: String => Boolean = _ => true)
      : graft.sources.kvbin.KVBinServer =
    serverCache.synchronized {
      serverCache.getOrElseUpdate(path + variant,
        new graft.sources.kvbin.KVBinServer(path,
          spark.sessionState.newHadoopConf(), owns))
    }

  /** Deterministic region→store assignment for the two-store fleet:
    * parity of a region's partition field NNNNN
    * (`part-NNNNN[-…].kv`) splits the key space across stores the way
    * PD spreads regions across store nodes (`checksum/checksum.go:78-95`
    * fans per-region work cluster-wide). */
  private def regionParity(id: String): Long = id match {
    case graft.sources.kvbin.KVBinDataWriter.RegionFile(p) => p.toLong % 2
    case _ => 0L
  }

  /** Comma-separated endpoints of a live TWO-server fleet over the src
    * snapshot's regions — each [[graft.sources.kvbin.KVBinServer]] owns
    * a disjoint half (even/odd region number), the multi-store shape of
    * the reference's endpoint list (`config/config.go:30-31`). */
  private def srcBinMultiEndpoints(spark: SparkSession, dir: String): (String, String) = {
    val path = srcBinPath(spark, dir)
    val even = serverFor(spark, path, "#even", regionParity(_) == 0L)
    val odd = serverFor(spark, path, "#odd", regionParity(_) == 1L)
    (path, s"${even.address},${odd.address}")
  }

  /** The src snapshot read through TWO live kvbin servers, each owning
    * half the regions — the [[graft.sources.kvbin.MultiSocketRegionClient]]
    * dial path on the correctness gate: planning unions both stores'
    * region answers, every region's bytes arrive from the one store
    * that owns it. */
  def srcBinSocketMulti(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.kvbin.KVBinSource
    val (path, endpoints) = srcBinMultiEndpoints(spark, dir)
    spark.read.format(classOf[KVBinSource].getName)
      .option("path", path)
      .option("endpoints", endpoints)
      .option("api_version", "V1")
      .load()
  }

  /** Whole-snapshot checksum with the per-region CRC64 fold executed
    * INSIDE the live servers (the CHECKSUM verb): the wire carries one
    * triple per region, never region bytes — the reference's
    * server-side checksum (`checksum/checksum.go:83-91`) end-to-end
    * over sockets. Result ≡ `Checksum.of(src(spark, dir))`. */
  def srcBinSocketChecksum(spark: SparkSession, dir: String): DataFrame = {
    val (path, endpoints) = srcBinMultiEndpoints(spark, dir)
    graft.sources.kvbin.KVBinChecksum.pushed(spark, path, Some(endpoints))
  }

  private def dstBinPath(spark: SparkSession, dir: String): String =
    matStore(s"$dir/dstbin", "dstbin") { p =>
      graft.sources.kvbin.KVBin.write(dst(spark, dir), p, matRangePartitions)
    }

  /** src-vs-dst checksum verdict where BOTH sides' digests are pushed
    * per-region triples from live servers (src: two-store fleet; dst:
    * its own store), folded by one aggregate whose job runs both sides'
    * CHECKSUM RPCs — the reference's §3.1 flagship lifecycle
    * (`checksum/checksum.go:140-178`) end-to-end over wires. Result ≡
    * `Checksum.verdict(src, dst)`. */
  def binSocketVerdict(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.kvbin.KVBinChecksum.regionTriples
    val (srcPath, srcEndpoints) = srcBinMultiEndpoints(spark, dir)
    val dstPath = dstBinPath(spark, dir)
    val dstServer = serverFor(spark, dstPath)
    graft.functions.Checksum.verdictFromTriples(
      regionTriples(spark, srcPath, Some(srcEndpoints)),
      regionTriples(spark, dstPath, Some(dstServer.address)))
  }

  /** Range-filter a KV frame to `[startKey, endKey)` — BinaryType
    * comparison in Spark is unsigned-lexicographic, matching TiKV byte
    * order (reference `config/config.go:23-24`; applied at every scan
    * call site). Pushes down to the source when key is a stored column. */
  def rangeFilter(kv: DataFrame, startKey: Array[Byte], endKey: Array[Byte]): DataFrame = {
    val lower = if (startKey.isEmpty) lit(true) else col("key") >= lit(startKey)
    val upper = if (endKey.isEmpty) lit(true) else col("key") < lit(endKey)
    kv.filter(lower && upper)
  }

  /** DuckDB CTE prefix that rebuilds the same snapshots in SQL; append a
    * `SELECT … FROM src/dst` to form a full oracle query. */
  val duckdbCte: String =
    """WITH base0 AS (
      |  SELECT 'li_' || lpad(CAST(l_orderkey AS VARCHAR),10,'0') || '_'
      |           || lpad(CAST(l_linenumber AS VARCHAR),3,'0') AS k,
      |         l_returnflag || '|' || l_linestatus
      |           || '|' || CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR)
      |           || '|' || CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
      |           || '|' || strftime(l_shipdate, '%Y-%m-%d') AS v,
      |         l_orderkey % 97 AS m, l_linenumber AS ln
      |  FROM lineitem),
      |base AS (
      |  SELECT k, min(v) AS v, min(m) AS m, min(ln) AS ln FROM base0 GROUP BY k),
      |src AS (SELECT k, v FROM base),
      |dst AS (
      |  SELECT k, CASE WHEN m = 13 THEN v || '#MUT' ELSE v END AS v
      |  FROM base WHERE m <> 7
      |  UNION ALL
      |  SELECT k || '_ins' AS k, 'INSERTED' AS v FROM base WHERE m = 19 AND ln = 1)
      |""".stripMargin
}
