package graft

import graft.functions.{Checksum, ChecksumAggregator, Crc64, KVPair, RawChecksum}
import graft.sources.KVSnapshot
import graft.sources.kvbin.{KVBin, KVBinChecksum, KVBinServer}
import graft.streaming.WindowedChecksum
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

class ChecksumSpec extends SparkTestBase {
  import spark.implicits._

  private def kvDs(pairs: Seq[(String, String)]) =
    pairs.map { case (k, v) => KVPair(k.getBytes("UTF-8"), v.getBytes("UTF-8")) }.toDS()

  test("DataFrame checksum matches a hand-folded reference on a tiny set") {
    val pairs = Seq("a" -> "1", "b" -> "22", "c" -> "333")
    val expected = pairs.foldLeft(RawChecksum.zero) { case (acc, (k, v)) =>
      acc.merge(RawChecksum.of(k.getBytes("UTF-8"), v.getBytes("UTF-8")))
    }
    val row = Checksum.of(kvDs(pairs).toDF()).head()
    assert(row.getLong(0) === expected.crc64_xor)
    assert(row.getLong(1) === expected.total_kvs)
    assert(row.getLong(2) === expected.total_bytes)
  }

  test("applyDelta derives the new snapshot's exact checksum from base + delta") {
    // deterministic pseudo-random mutation of a 400-pair base: delete
    // every 7th, mutate every 5th, insert 40 fresh keys — the identity
    // checksum(B) == applyDelta(checksum(A), deletes, inserts) must hold
    // bit-exactly (XOR self-inverse + count/byte arithmetic)
    val a = (1 to 400).map(i => (f"k$i%05d", s"val-${i * 31 % 97}"))
    val deleted = a.filter { case (k, _) => k.drop(1).toInt % 7 == 0 }
    val mutated = a.filter { case (k, _) => k.drop(1).toInt % 7 != 0 && k.drop(1).toInt % 5 == 0 }
    val fresh = (1001 to 1040).map(i => (s"n$i", s"new-$i"))
    val b = a.filterNot(deleted.contains).map { case (k, v) =>
      if (mutated.exists(_._1 == k)) (k, v + "#MUT") else (k, v)
    } ++ fresh
    val dels = deleted ++ mutated                             // old versions leaving
    val inss = mutated.map { case (k, v) => (k, v + "#MUT") } ++ fresh  // new versions arriving
    val derived = Checksum.applyDelta(
      Checksum.of(kvDs(a).toDF()), kvDs(dels).toDF(), kvDs(inss).toDF()).head()
    val direct = Checksum.of(kvDs(b).toDF()).head()
    assert(derived.getLong(0) === direct.getLong(0))
    assert(derived.getLong(1) === direct.getLong(1))
    assert(derived.getLong(2) === direct.getLong(2))
  }

  test("typed Aggregator agrees with expression-form checksum") {
    val pairs = (1 to 500).map(i => (f"k$i%05d", s"value-$i"))
    val ds = kvDs(pairs)
    val typed = ds.select(ChecksumAggregator.toColumn).head()
    val exprRow = Checksum.of(ds.toDF()).head()
    assert(typed.crc64_xor === exprRow.getLong(0))
    assert(typed.total_kvs === exprRow.getLong(1))
    assert(typed.total_bytes === exprRow.getLong(2))
  }

  test("checksum is partitioning-invariant (1 vs 32 partitions)") {
    val pairs = (1 to 2000).map(i => (f"k$i%06d", s"v$i"))
    val one = Checksum.of(kvDs(pairs).repartition(1).toDF()).head()
    val many = Checksum.of(kvDs(pairs).repartition(32).toDF()).head()
    assert(one === many)
  }

  test("empty input yields monoid identity (0,0,0)") {
    val row = Checksum.of(kvDs(Nil).toDF()).head()
    assert(row.getLong(0) === 0L && row.getLong(1) === 0L && row.getLong(2) === 0L)
  }

  test("verdict: src == src matches; src vs dst (injected divergence) does not") {
    val src = KVSnapshot.src(spark, sfSmoke)
    val dst = KVSnapshot.dst(spark, sfSmoke)
    assert(Checksum.verdict(src, src).head().getAs[Boolean]("matches"))
    assert(!Checksum.verdict(src, dst).head().getAs[Boolean]("matches"))
  }

  /** Spark jobs started while `body` runs. Jobs are told apart by a local
    * property; a marker job run after `body` flushes the listener, which
    * receives events in order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.spec.jobs", java.util.UUID.randomUUID().toString)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case `tag` => jobs.incrementAndGet()
          case t if t == s"$tag-end" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally { sc.setLocalProperty(key, null); sc.removeSparkListener(listener) }
  }

  private def kvbinTable(pairs: Seq[(String, String)], regions: Int): (String, Int) = {
    val dir = java.nio.file.Files.createTempDirectory("cksum-kvbin-").toString
    val df = pairs.map { case (k, v) => (k.getBytes("UTF-8"), v.getBytes("UTF-8")) }
      .toDF("key", "value")
    (dir, KVBin.write(df, dir, regions).size)
  }

  test("verdict over two kvbin tables: one aggregate of at most two jobs, equal to the pushed-triple verdict") {
    val base = (0 until 2000).map(i => (f"vk_$i%05d", s"v_$i"))
    val (a, regionsA) = kvbinTable(base, 4)
    val (b, regionsB) = kvbinTable(base.updated(7, ("vk_00007", "changed")) :+ ("vk_99999" -> "x"), 3)
    var rows = Array.empty[Row]
    val jobs = jobsDuring {
      rows = Checksum.verdict(KVBin.read(spark, a), KVBin.read(spark, b)).collect()
    }
    assert(jobs <= 2, s"Checksum.verdict started $jobs jobs")
    val Array(row) = rows
    assert(!row.getAs[Boolean]("matches"))
    assert(row.getAs[Long]("src_total_kvs") === 2000L && row.getAs[Long]("dst_total_kvs") === 2001L)
    val conf = spark.sessionState.newHadoopConf()
    val (serverA, serverB) = (new KVBinServer(a, conf), new KVBinServer(b, conf))
    try {
      val pushed = Checksum.verdictFromTriples(
        KVBinChecksum.regionTriples(spark, a, Some(serverA.address)),
        KVBinChecksum.regionTriples(spark, b, Some(serverB.address))).head()
      assert(pushed.schema === row.schema)
      assert(pushed.toSeq === row.toSeq)
      assert(serverA.checksumRequests.get() === regionsA)
      assert(serverB.checksumRequests.get() === regionsB)
      assert(serverA.scanRequests.get() === 0L && serverB.scanRequests.get() === 0L)
    } finally { serverA.close(); serverB.close() }
  }

  test("degenerate inputs: empty side, null key, null value, a bucket of only null rows") {
    // bucket x: two live pairs and a null-key row; bucket y: only null
    // rows, which no component may count. The expected values are
    // literals, so any change in null handling shows.
    val kv = Seq[(String, String, String, String)](
        ("x", "1970-01-01 00:00:10", "a", "1"), ("x", "1970-01-01 00:00:20", null, "2"),
        ("y", "1970-01-01 00:01:10", "b", null), ("y", "1970-01-01 00:01:20", null, null),
        ("x", "1970-01-01 00:00:30", "c", "333"))
      .toDF("bucket", "ts", "k", "v")
      .select(col("bucket"), col("ts").cast("timestamp").as("ts"),
        col("k").cast("binary").as("key"), col("v").cast("binary").as("value"))
    val empty = kv.filter(lit(false))
    val nullsOnly = kv.filter(col("bucket") === "y")
    val liveCrc = -420867797012516334L // crc64(a‖1) ^ crc64(c‖333)
    def longs(r: Row) = r.toSeq.map(Option(_))
    assert(longs(Checksum.of(kv).head()) === Seq(Some(liveCrc), Some(2L), Some(6L)))
    assert(longs(Checksum.of(nullsOnly).head()) === Seq(Some(0L), Some(0L), Some(0L)))
    assert(Checksum.byBucket(kv, col("bucket")).orderBy("bucket").collect().map(longs).toSeq ===
      Seq(Seq(Some("x"), Some(liveCrc), Some(2L), Some(6L)),
        Seq(Some("y"), None, Some(0L), None)))
    assert(Checksum.byBucket(empty, col("bucket")).count() === 0L)
    def verdictOf(s: DataFrame, d: DataFrame) = longs(Checksum.verdict(s, d).head())
    assert(verdictOf(empty, kv) ===
      Seq(0L, 0L, 0L, liveCrc, 2L, 6L, false).map(Some(_)))
    assert(verdictOf(kv, empty) ===
      Seq(liveCrc, 2L, 6L, 0L, 0L, 0L, false).map(Some(_)))
    assert(verdictOf(empty, empty) === Seq(0L, 0L, 0L, 0L, 0L, 0L, true).map(Some(_)))
    assert(verdictOf(nullsOnly, empty) === Seq(0L, 0L, 0L, 0L, 0L, 0L, true).map(Some(_)))
    assert(verdictOf(kv, kv.filter(col("key").isNotNull && col("value").isNotNull)) ===
      Seq(liveCrc, 2L, 6L, liveCrc, 2L, 6L, true).map(Some(_)))
    val windows = WindowedChecksum(kv, "ts", "1 minute")
      .orderBy("w_start").drop("w_start", "w_end").collect().map(longs).toSeq
    assert(windows === Seq(Seq(Some(liveCrc), Some(2L), Some(6L)), Seq(None, Some(0L), None)))
    assert(WindowedChecksum(empty, "ts", "1 minute").count() === 0L)
  }

  test("a flipped value byte in a region file, _index untouched: the scan, the pushed fold and the verdict all see it") {
    val pairs = (0 until 600).map(i => (f"bf_$i%04d", s"val_$i"))
    val (a, _) = kvbinTable(pairs, 3)
    val (b, _) = kvbinTable(pairs, 3)
    def scanned(dir: String) = Checksum.of(KVBin.read(spark, dir)).head()
    def verdictMatches = Checksum.verdict(KVBin.read(spark, a), KVBin.read(spark, b))
      .head().getAs[Boolean]("matches")
    val before = scanned(b)
    assert(verdictMatches)
    // rewrite one region file through the FS API (its checksum sidecar
    // follows), with the last byte — the last record's value — flipped
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI(b), conf)
    def bytesOf(p: Path) = {
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    val index = bytesOf(new Path(b, KVBin.IndexFile))
    val region = new Path(b, KVBin.readIndex(b, conf).head.id)
    val flipped = bytesOf(region)
    flipped(flipped.length - 1) = (flipped.last ^ 1).toByte
    val out = fs.create(region, true)
    try out.write(flipped) finally out.close()
    assert(bytesOf(new Path(b, KVBin.IndexFile)) sameElements index)

    val after = scanned(b)
    assert(after.getLong(0) !== before.getLong(0))
    assert(after.getLong(1) === before.getLong(1) && after.getLong(2) === before.getLong(2))
    val server = new KVBinServer(b, conf)
    try {
      val pushed = KVBinChecksum.pushed(spark, b, Some(server.address)).head()
      assert(pushed.toSeq === after.toSeq)
      assert(server.checksumRequests.get() > 0L && server.scanRequests.get() === 0L)
    } finally server.close()
    assert(!verdictMatches)
  }

  test("grouped checksum buckets merge to the global checksum") {
    val src = KVSnapshot.src(spark, sfSmoke)
    val buckets = Checksum.byBucket(src, substring(col("key").cast("string"), 1, 10))
      .collect()
    val merged = buckets.foldLeft(RawChecksum.zero) { (acc, r) =>
      acc.merge(RawChecksum(r.getAs[Long]("crc64_xor"), r.getAs[Long]("total_kvs"), r.getAs[Long]("total_bytes")))
    }
    val global = Checksum.of(src).head()
    assert(merged.crc64_xor === global.getLong(0))
    assert(merged.total_kvs === global.getLong(1))
    assert(merged.total_bytes === global.getLong(2))
  }

  test("crc64 expression equals scala impl row-by-row") {
    val pairs = Seq("abc" -> "def", "" -> "", "123456789" -> "")
    import graft.functions.Crc64Expr.crc64Pair
    val got = kvDs(pairs).toDF()
      .select(col("key"), crc64Pair(col("key"), col("value")).as("c"))
      .collect()
      .map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8") -> r.getAs[Long]("c"))
      .toMap
    pairs.foreach { case (k, v) =>
      assert(got(k) === Crc64.crc64(k.getBytes("UTF-8"), v.getBytes("UTF-8")))
    }
  }
}
