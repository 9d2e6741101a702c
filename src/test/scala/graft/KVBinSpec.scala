package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.functions.Checksum
import graft.sources.KVSnapshot
import graft.sources.kvbin.KVBin

/** DSv2 kvbin connector: content parity with the parquet snapshot,
  * range-filter pushdown, and region-file pruning at planning time. */
class KVBinSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val parquetSrc = KVSnapshot.src(spark, sfSmoke)
  private lazy val binSrc = KVSnapshot.srcBin(spark, sfSmoke)

  test("kvbin DSv2 content equals the parquet snapshot (checksum identity)") {
    val a = Checksum.of(parquetSrc).as[(Long, Long, Long)].head()
    val b = Checksum.of(binSrc).as[(Long, Long, Long)].head()
    assert(a === b)
    assert(a._2 > 0)
  }

  test("range filter prunes region files at planning time") {
    val full = regionsOpened(binSrc)
    val narrow = regionsOpened(KVSnapshot.rangeFilter(binSrc,
      "li_0000000100".getBytes("UTF-8"), "li_0000000140".getBytes("UTF-8")))
    assert(full > 1, s"expected multiple region files, got $full")
    assert(narrow < full, s"narrow range should prune: narrow=$narrow full=$full")
  }

  test("stats skipping: conjunctive stat predicate prunes regions at planning; rows exact") {
    val path = graft.operators.Layout.kvbinSkipTable(spark, sfSmoke)
    val tbl = KVBin.read(spark, path)
    // virtual stat columns from the #stats header
    assert(tbl.columns.toSeq === Seq("key", "value", "price_k", "cust"))
    val full = regionsOpened(tbl)
    val pred = col("price_k").between(100L, 160L) && col("cust") < 200L
    val skipped = regionsOpened(tbl.filter(pred))
    assert(full > 4, s"fixture must split into many regions, got $full")
    assert(skipped < full,
      s"two-column predicate must skip regions: opened=$skipped of $full")
    // pruning must be exact: the stat filter is CONSUMED (no residual),
    // yet the result equals the parquet-side reference
    val got = tbl.filter(pred)
      .select(col("key").cast("string"), col("price_k"), col("cust"))
      .as[(String, Long, Long)].collect().sorted.toSeq
    val ref = spark.read.parquet(s"$sfSmoke/orders.parquet")
      .select(format_string("ok_%010d", col("o_orderkey")).as("k"),
        floor(col("o_totalprice") / 1000.0).cast("long").as("p"),
        col("o_custkey").as("c"))
      .filter(col("p").between(100L, 160L) && col("c") < 200L)
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got === ref)
    assert(got.nonEmpty)
    // a single-column predicate on the SECOND stat also skips — the
    // Z-order layout keeps both dimensions clustered
    assert(regionsOpened(tbl.filter(col("cust") < 50L)) < full)
  }

  test("compacting a stats dir is lossless: specs preserved, ranges restamped, rows identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kvstat-").toString
    val kv = (1 to 400).map { i =>
      val v = java.nio.ByteBuffer.allocate(8).putLong(i % 37L).array()
      (f"sk_$i%04d".getBytes("UTF-8"), v)
    }.toDF("key", "value")
    KVBin.write(kv, dir, 8, "V1", Seq("m37" -> "v_be64@0"))
    val before = KVBin.read(spark, dir)
      .select(col("key").cast("string"), col("m37"))
      .as[(String, Long)].collect().sorted.toSeq
    graft.sources.kvbin.KVBinCompact.compact(spark, dir, 3)
    val conf = spark.sessionState.newHadoopConf()
    // spec header survived the swap; every compacted region line
    // carries a RESTAMPED [min,max] pair (not dropped)
    assert(KVBin.statDefs(KVBin.readMeta(dir, conf)) === Seq(("m37", "v_be64@0")))
    val ranges = KVBin.readIndex(dir, conf).map(_.stats)
    assert(ranges.size === 3 && ranges.forall(_.size == 1), ranges)
    assert(ranges.forall { case Seq((lo, hi)) => lo >= 0 && hi <= 36 && lo <= hi })
    val after = KVBin.read(spark, dir)
      .select(col("key").cast("string"), col("m37"))
      .as[(String, Long)].collect().sorted.toSeq
    assert(after === before)
    // the virtual column still filters exactly post-compaction
    assert(KVBin.read(spark, dir).filter(col("m37") === 5L).count()
      === before.count(_._2 == 5L))
  }

  test("pushed range filter returns exactly the [start,end) rows") {
    val lo = "li_0000000100".getBytes("UTF-8")
    val hi = "li_0000000300".getBytes("UTF-8")
    val viaBin = KVSnapshot.rangeFilter(binSrc, lo, hi)
      .select(col("key").cast("string")).as[String].collect().sorted.toSeq
    val viaParquet = KVSnapshot.rangeFilter(parquetSrc, lo, hi)
      .select(col("key").cast("string")).as[String].collect().sorted.toSeq
    assert(viaBin === viaParquet)
    assert(viaBin.nonEmpty)
    assert(viaBin.forall(k => k >= "li_0000000100" && k < "li_0000000300"))
  }

  test("strict greater-than pushes the resume-key semantics (k > v ⇒ start at v‖0x00)") {
    val someKey = binSrc.orderBy(col("key")).limit(1)
      .select(col("key")).as[Array[Byte]].head()
    val strict = binSrc.filter(col("key") > lit(someKey)).count()
    val all = binSrc.count()
    assert(strict === all - 1)
  }

  test("column pruning reaches the kvbin scan (key-only projection)") {
    val keyOnly = binSrc.select("key")
    val scans = keyOnly.queryExecution.executedPlan.collectLeaves().collect {
      case b: BatchScanExec => b.output.map(_.name)
    }
    assert(scans.nonEmpty && scans.head === Seq("key"))
    assert(keyOnly.count() === binSrc.count())
  }

  test("api_version option gates a mismatched source at planning time") {
    val data = Seq(("k1".getBytes("UTF-8"), "v1".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-gate-").toString
    KVBin.write(data, dir, 1, apiVersion = "V1")
    // matching (and absent) expectation reads fine
    assert(spark.read.format(classOf[graft.sources.kvbin.KVBinSource].getName)
      .option("path", dir).option("api_version", "V1").load().count() === 1)
    assert(KVBin.read(spark, dir).count() === 1)
    // mismatched expectation fails fast, before any region file is read
    val e = intercept[Exception] {
      spark.read.format(classOf[graft.sources.kvbin.KVBinSource].getName)
        .option("path", dir).option("api_version", "V2").load().count()
    }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(rootChain(e).exists(m => m != null && m.contains("api version mismatch")))
  }

  test("index meta: stamped version read back; pre-stamp indexes default to V1") {
    val conf = spark.sessionState.newHadoopConf()
    val data = Seq(("k".getBytes("UTF-8"), "v".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-meta-").toString
    KVBin.write(data, dir, 1, apiVersion = "V2")
    assert(KVBin.readMeta(dir, conf)("api_version") === "V2")
    // strip the header line → legacy index → defaults to V1, still
    // readable (rewrite through the Hadoop FS so its .crc sidecar stays
    // consistent)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val idx = new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile)
    val legacy = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(idx), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filterNot(_.startsWith("#")).mkString("\n")
      finally in.close()
    }
    val out = fs.create(idx, true)
    out.write(legacy.getBytes("UTF-8"))
    out.close()
    assert(KVBin.readMeta(dir, conf)("api_version") === "V1")
    assert(KVBin.read(spark, dir).count() === 1)
  }

  test("partition reader honors the pruned schema's field order") {
    import graft.sources.kvbin.{FileRegionClient, KVBinInputPartition, KVBinPartitionReader}
    val data = Seq(("kk".getBytes("UTF-8"), "vvv".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-order-").toString
    KVBin.write(data, dir, 1)
    val file = KVBin.readIndex(dir, spark.sessionState.newHadoopConf()).head.id
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val client = new FileRegionClient(dir, sconf)
    def readWith(cols: Array[String]): Seq[Seq[String]] = {
      val r = new KVBinPartitionReader(
        KVBinInputPartition(client, Seq(file), null, null, null, cols))
      val rows = Iterator.continually(r)
        .takeWhile(_.next())
        .map(x => cols.indices.map(i =>
          new String(x.get().getBinary(i), "UTF-8")).toSeq)
        .toList
      r.close(); rows
    }
    assert(readWith(Array("key", "value")) === Seq(Seq("kk", "vvv")))
    assert(readWith(Array("value", "key")) === Seq(Seq("vvv", "kk")))
    assert(readWith(Array("value")) === Seq(Seq("vvv")))
  }

  test("reader machinery is client-agnostic: an in-memory RegionClient serves scans") {
    import graft.sources.kvbin.{KVBinInputPartition, KVBinPartitionReader, RegionClient, RegionInfo}
    // no files, no filesystem — the RegionClient seam is the whole
    // cluster interface, so a live network client plugs in identically
    val mem: RegionClient = new RegionClient {
      private def b(s: String) = s.getBytes("UTF-8")
      private val recs = Seq("a" -> "1", "b" -> "2", "c" -> "3")
        .map { case (k, v) => (b(k), b(v)) }
      override def clusterMeta(): Map[String, String] = Map("api_version" -> "V2")
      override def listRegions(): Seq[RegionInfo] =
        Seq(RegionInfo("r0", recs.head._1, recs.last._1, recs.size.toLong))
      override def scanRegion(id: String): Iterator[(Array[Byte], Array[Byte])] = {
        assert(id === "r0"); recs.iterator
      }
    }
    // bounded scan [a, c): sorted-input early stop must apply
    val r = new KVBinPartitionReader(KVBinInputPartition(mem, Seq("r0"),
      "a".getBytes("UTF-8"), "c".getBytes("UTF-8"), null, Array("key", "value")))
    val rows = Iterator.continually(r).takeWhile(_.next())
      .map(x => (new String(x.get().getBinary(0), "UTF-8"),
        new String(x.get().getBinary(1), "UTF-8"))).toList
    r.close()
    assert(rows === List(("a", "1"), ("b", "2")))
  }

  test("endpoints option dials a real socket: the scan runs over the wire end-to-end") {
    import graft.sources.kvbin.{KVBinServer, KVBinSource}
    // a loopback KVBinServer serves the region files the way a store
    // node serves regions; the DSv2 reader, given `endpoints`, must
    // produce IDENTICAL content and pruning behavior with every byte of
    // metadata and data flowing through the socket, not the filesystem
    val data = Seq.tabulate(500)(i => (f"k_$i%04d".getBytes("UTF-8"),
      s"v$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-net-").toString
    KVBin.write(data, dir, 4, apiVersion = "V2")
    val server = new KVBinServer(dir,
      spark.sessionState.newHadoopConf())
    try {
      def socketRead = spark.read.format(classOf[KVBinSource].getName)
        .option("path", dir).option("endpoints", server.address)
        .option("api_version", "V2").load()
      // content parity with the file-backed read
      val viaWire = socketRead.select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      val viaFile = KVBin.read(spark, dir).select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      assert(viaWire === viaFile)
      assert(viaWire.size === 500)
      // region pruning still happens at planning time — region metadata
      // came over the REGIONS request, and only intersecting regions dial
      val narrow = socketRead
        .filter(col("key") >= lit("k_0000".getBytes("UTF-8")) &&
          col("key") < lit("k_0050".getBytes("UTF-8")))
      assert(regionsOpened(narrow) === 1,
        "socket planning must prune to the one intersecting region")
      assert(narrow.count() === 50)
      // the version gate runs against socket-served cluster meta
      val bad = spark.read.format(classOf[KVBinSource].getName)
        .option("path", dir).option("endpoints", server.address)
        .option("api_version", "V1").load()
      val e = intercept[Exception] { bad.collect() }
      assert(e.getMessage.contains("api version mismatch"))
    } finally server.close()
  }

  test("stat ranges ride the REGIONS wire reply: a socket-planned scan stat-prunes before any SCAN") {
    import graft.sources.kvbin.KVBinServer
    val path = graft.operators.Layout.kvbinSkipTable(spark, sfSmoke)
    val conf = spark.sessionState.newHadoopConf()
    val server = new KVBinServer(path, conf)
    try {
      val total = KVBin.readIndex(path, conf).size
      val pred = col("price_k").between(100L, 160L) && col("cust") < 200L
      val wired = spark.read.format(kvbinFmt).option("path", path)
        .option("endpoints", server.address).load()
        .filter(pred).select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      val local = KVBin.read(spark, path)
        .filter(pred).select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      assert(wired === local && wired.nonEmpty,
        "wire-planned stat filter must return the file-backed rows")
      // the point: per-region min/max arrived in the REGIONS reply, so
      // planning pruned regions BEFORE dialing a single SCAN — the wire
      // carries only surviving regions' bytes
      assert(server.scanRequests.get() < total.toLong,
        s"stat pruning did not reach the wire planner: " +
        s"${server.scanRequests.get()} SCANs of $total regions")
      assert(server.scanRequests.get() > 0L)
    } finally server.close()
  }

  test("endpoints-only reads: schema, stat pruning and the tail all ride the wire — no path, no shared filesystem") {
    import graft.sources.kvbin.KVBinServer
    val path = graft.operators.Layout.kvbinSkipTable(spark, sfSmoke)
    val conf = spark.sessionState.newHadoopConf()
    val server = new KVBinServer(path, conf)
    try {
      // the client knows ONLY host:port: the stats schema comes from
      // one POLL (the #stats scalar), bounds + ranges from REGIONS,
      // bytes from SCAN — planning never opens the index file
      val t = spark.read.format(kvbinFmt)
        .option("endpoints", server.address).load()
      assert(t.columns.toSeq === Seq("key", "value", "price_k", "cust"))
      val pred = col("price_k").between(100L, 160L) && col("cust") < 200L
      val viaWire = t.filter(pred).select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      val local = KVBin.read(spark, path).filter(pred)
        .select(col("key").cast("string")).as[String].collect().sorted.toSeq
      assert(viaWire === local && viaWire.nonEmpty)
    } finally server.close()
    // the TAIL too: an endpoints-only stream drains base + append
    val dir2 = java.nio.file.Files.createTempDirectory("kvbin-eo2-").toString
    def write(hi: Boolean, mode: String): Unit =
      parquetSrc.filter(if (hi) col("key") >= lit("li_0000000500").cast("binary")
                        else col("key") < lit("li_0000000500").cast("binary"))
        .write.format(kvbinFmt).option("path", dir2).option("ranges", "2")
        .mode(mode).save()
    write(hi = false, "overwrite")
    val server2 = new KVBinServer(dir2, conf)
    try {
      // (until r13 this pinned the wire surface as read-only; writes
      // now ride PUT/COMMIT — covered by the wire-write tests above)
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val q = spark.readStream.format(kvbinFmt)
        .option("endpoints", server2.address).load()
        .select(col("key").cast("string").as("key"))
        .writeStream.format("memory").queryName("kvbin_wireonly_tail")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        write(hi = true, "append")
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("kvbin_wireonly_tail")
        .select("key").as[String].collect().sorted.toSeq
      val expected = parquetSrc.select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      assert(got === expected, "endpoints-only tail must drain both generations")
      spark.catalog.dropTempView("kvbin_wireonly_tail")
    } finally server2.close()
  }

  test("a store death between micro-batches fails the wire tail LOUDLY — no hang, no silent empty batches") {
    import graft.sources.kvbin.KVBinServer
    val dir = java.nio.file.Files.createTempDirectory("kvbin-die-").toString
    val conf = spark.sessionState.newHadoopConf()
    def write(hi: Boolean, mode: String): Unit =
      parquetSrc.filter(if (hi) col("key") >= lit("li_0000000500").cast("binary")
                        else col("key") < lit("li_0000000500").cast("binary"))
        .write.format(kvbinFmt).option("path", dir).option("ranges", "2")
        .mode(mode).save()
    write(hi = false, "overwrite")
    val server = new KVBinServer(dir, conf)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val q = spark.readStream.format(kvbinFmt)
      .option("endpoints", server.address).load()
      .select(col("key").cast("string").as("key"))
      .writeStream.format("memory").queryName("kvbin_die_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // base generation drains over the wire
      assert(spark.table("kvbin_die_tail").count() > 0)
      // the store dies BETWEEN micro-batches; the next trigger's POLL
      // dials a dead socket. The contract: the query FAILS promptly
      // with the connection error surfaced — never a hang (the dial
      // has a bounded connect timeout) and never a silently-empty
      // batch that would make a monitor believe the table went quiet
      server.close()
      write(hi = true, "append") // data lands; only the wire is dead
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => s"${t.getClass.getName}: ${t.getMessage}")
        .mkString("\n")
      assert(chain.toLowerCase.contains("connect"),
        s"expected a connection-class failure, got:\n$chain")
      // and nothing from the appended generation leaked into the sink
      assert(spark.table("kvbin_die_tail")
        .filter(col("key") >= "li_0000000500").count() === 0L)
    } finally {
      try q.stop() catch { case _: Exception => () }
      spark.catalog.dropTempView("kvbin_die_tail")
      server.close()
    }
  }

  test("CHECKSUM verb: server-side fold equals the scan-side digest with ZERO region bytes on the wire") {
    import graft.sources.kvbin.{KVBinChecksum, KVBinServer}
    val data = Seq.tabulate(600)(i => (f"ck_$i%04d".getBytes("UTF-8"),
      s"val_$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-cksum-").toString
    val nRegions = KVBin.write(data, dir, 5).size
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      val pushed = KVBinChecksum.pushed(spark, dir, Some(server.address))
        .as[(Long, Long, Long)].head()
      val scanned = Checksum.of(KVBin.read(spark, dir))
        .as[(Long, Long, Long)].head()
      assert(pushed === scanned)
      assert(pushed._2 === 600)
      // the bandwidth claim, observed: every region answered its triple
      // via CHECKSUM, and NO scan request ever moved region bytes
      assert(server.checksumRequests.get() === nRegions)
      assert(server.scanRequests.get() === 0,
        "a pushed checksum must not stream region data over the wire")
    } finally server.close()
  }

  test("region-index statistics reach the planner: exact rows, pruned size, no-hint broadcast") {
    import graft.sources.kvbin.KVBinSource
    val data = Seq.tabulate(600)(i => (f"st_$i%04d".getBytes("UTF-8"),
      s"val_$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-stats-").toString
    KVBin.write(data, dir, 5)
    val df = KVBin.read(spark, dir)
    val stats = df.queryExecution.optimizedPlan.stats
    // exact row count straight from the index
    assert(stats.rowCount.contains(BigInt(600)), s"rowCount=${stats.rowCount}")
    // size = Σ region file lengths (framing included), not a default guess
    val expectedBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".kv")).map(_.length).sum
    assert(stats.sizeInBytes === BigInt(expectedBytes),
      s"sizeInBytes=${stats.sizeInBytes} expected=$expectedBytes")
    // a pushed key range shrinks the estimate to the surviving regions
    val pruned = df.filter(col("key") >= lit("st_0480".getBytes("UTF-8")))
      .queryExecution.optimizedPlan.stats
    assert(pruned.sizeInBytes < stats.sizeInBytes, s"pruned=${pruned.sizeInBytes}")
    assert(pruned.rowCount.exists(_ < BigInt(600)), s"pruned rows=${pruned.rowCount}")
    // the payoff: joined against a side whose stats exceed the broadcast
    // threshold, the SMALL kvbin table broadcasts WITHOUT a hint —
    // before this, DSv2's unknown-size default (huge) forced a shuffle
    // join on every kvbin join
    val big = spark.range(5000000L)
      .select(concat(lit("st_"), lpad(col("id").cast("string"), 4, "0"))
        .cast("binary").as("k"))
    val joined = big.join(df, col("k") === col("key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"kvbin side must auto-broadcast via reported stats:\n$plan")
    // and the stats flow over the wire too (REGIONS carries bytes)
    import graft.sources.kvbin.KVBinServer
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      val viaWire = spark.read.format(classOf[KVBinSource].getName)
        .option("endpoints", server.address).load(dir)
      val ws = viaWire.queryExecution.optimizedPlan.stats
      assert(ws.rowCount.contains(BigInt(600)))
      assert(ws.sizeInBytes === BigInt(expectedBytes))
    } finally server.close()
  }

  test("runtime filtering: a join-key set prunes regions before any is opened") {
    import graft.sources.kvbin.{KVBinScan, KVBinScanBuilder}
    import org.apache.spark.sql.sources.In
    val data = Seq.tabulate(600)(i => (f"rt_$i%04d".getBytes("UTF-8"),
      s"val_$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-rt-").toString
    val nRegions = KVBin.write(data, dir, 5).size
    // unit: drive the SupportsRuntimeFiltering surface directly (what
    // AQE's dynamic-pruning subquery does after the broadcast side
    // materializes)
    val scan = new KVBinScanBuilder(dir).build().asInstanceOf[KVBinScan]
    assert(regionsOpened(scan.planInputPartitions()) === nRegions)
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("key"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("key",
      Array[Any]("rt_0001".getBytes("UTF-8"), "rt_0003".getBytes("UTF-8")))))
    val kept = regionsOpened(scan.planInputPartitions())
    assert(kept === 1, s"two adjacent keys live in one region, kept=$kept")
    // an aggregate-pushdown scan reports nothing filterable (its rows
    // are region metadata, not keys)
    val aggB = new KVBinScanBuilder(dir)
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
    aggB.pushAggregation(new Aggregation(Array(new CountStar()), Array.empty))
    assert(aggB.build().asInstanceOf[KVBinScan].filterAttributes().isEmpty)
  }

  test("limit pushdown: each region reader stops after the pushed head count") {
    import graft.sources.kvbin.{KVBinInputPartition, KVBinPartitionReader, RegionClient, RegionInfo}
    var served = 0
    val mem: RegionClient = new RegionClient {
      private def b(s: String) = s.getBytes("UTF-8")
      override def clusterMeta(): Map[String, String] = Map("api_version" -> "V1")
      override def listRegions(): Seq[RegionInfo] =
        Seq(RegionInfo("r0", b("a"), b("z"), 26L))
      override def scanRegion(id: String): Iterator[(Array[Byte], Array[Byte])] =
        ('a' to 'z').iterator.map { c => served += 1; (b(c.toString), b("v")) }
    }
    val r = new KVBinPartitionReader(KVBinInputPartition(mem, Seq("r0"),
      null, null, null, Array("key"), limit = 2))
    val got = Iterator.continually(r).takeWhile(_.next())
      .map(x => new String(x.get().getBinary(0), "UTF-8")).toList
    r.close()
    assert(got === List("a", "b"))
    // the sorted-region early stop is real: the source iterator was
    // consumed exactly limit times, not drained
    assert(served === 2, s"reader drained $served records for a limit of 2")
    // and through the planner: limit(3) plans, reads and returns 3 rows
    val data = Seq.tabulate(100)(i => (f"lm_$i%03d".getBytes("UTF-8"),
      s"v$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-limit-").toString
    KVBin.write(data, dir, 4)
    val rows = KVBin.read(spark, dir).orderBy(col("key")).limit(3)
      .select(col("key").cast("string")).as[String].collect().toSeq
    assert(rows === Seq("lm_000", "lm_001", "lm_002"))
  }

  test("dynamic pruning end-to-end: a selective dim join scans 1 region of 5 over the wire") {
    import graft.sources.kvbin.{KVBinServer, KVBinSource}
    // Spark's DPP injects the runtime filter when the probe side
    // advertises filterAttributes, the build side carries a selective
    // predicate that SURVIVES optimization (file-backed — a
    // LocalRelation filter constant-folds away and DPP declines), and
    // the subquery may run standalone (reuseBroadcastOnly=false: the
    // join's HashedRelation broadcast mode differs from the pruning
    // subquery's keys, so reuse-only planning degrades to a no-op
    // TrueLiteral filter)
    val data = Seq.tabulate(600)(i => (f"dp_$i%04d".getBytes("UTF-8"),
      s"val_$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-dpp-").toString
    val nRegions = KVBin.write(data, dir, 5).size
    val dimPath = java.nio.file.Files.createTempDirectory("kvbin-dim-").toString
    Seq(("dp_0001", 1), ("dp_0002", 1), ("dp_0500", 2)).toDF("ks", "grp")
      .write.mode("overwrite").parquet(dimPath)
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "4096",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val kv = spark.read.format(classOf[KVBinSource].getName)
        .option("endpoints", server.address).load(dir)
      val dim = spark.read.parquet(dimPath)
        .filter(col("grp") === 1)
        .select(col("ks").cast("binary").as("k"))
      val joined = kv.join(dim, col("key") === col("k"))
      assert(joined.count() === 2L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), s"no runtime filter injected:\n$plan")
      // both selected keys live in one region: 4 of 5 regions were
      // pruned BEFORE any byte moved — the wire observable
      assert(server.scanRequests.get() === 1,
        s"expected 1 region scanned of $nRegions, got ${server.scanRequests.get()}")
    } finally {
      server.close()
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from region metadata, zero region bytes on the wire") {
    import graft.sources.kvbin.{KVBinServer, KVBinSource}
    val data = Seq.tabulate(600)(i => (f"ag_$i%04d".getBytes("UTF-8"),
      s"v_$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-agg-").toString
    KVBin.write(data, dir, 5)
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      val df = spark.read.format(classOf[KVBinSource].getName)
        .option("endpoints", server.address).load(dir)
      val row = df.agg(count(lit(1)).as("n"),
          min(col("key")).as("mn"), max(col("key")).as("mx"))
        .as[(Long, Array[Byte], Array[Byte])].head()
      assert(row._1 === 600L)
      assert(new String(row._2, "UTF-8") === "ag_0000")
      assert(new String(row._3, "UTF-8") === "ag_0599")
      // the stats crossed the wire inside the REGIONS metadata reply;
      // not one SCAN request moved region data
      assert(server.scanRequests.get() === 0,
        "a pushed aggregate must not stream region data over the wire")
      // the scan's output schema IS the aggregate (pushdown engaged)
      val plan = df.agg(count(lit(1)).as("n")).queryExecution.executedPlan.toString
      assert(plan.contains("agg_count") || plan.contains("PushedAggregates"),
        s"aggregate not pushed:\n$plan")
      // a pushed key range invalidates whole-region stats: the planner
      // must fall back to the row scan (and still be right)
      val filtered = df.filter(col("key") >= lit("ag_0100".getBytes("UTF-8")))
        .agg(count(lit(1))).as[Long].head()
      assert(filtered === 500L)
      assert(server.scanRequests.get() > 0,
        "range-filtered aggregate must fall back to the row scan")
    } finally server.close()
  }

  test("CHECKSUM for a region the server does not own fails the task, not silently zeros") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val data = Seq(("a".getBytes("UTF-8"), "1".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-cksum-miss-").toString
    KVBin.write(data, dir, 1)
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      val client = new SocketRegionClient(server.address)
      intercept[IllegalArgumentException] { client.checksumRegion("part-99999.kv") }
    } finally server.close()
  }

  test("multi-endpoint fleet: two stores each owning half the regions serve one coherent scan") {
    import graft.sources.kvbin.{KVBinChecksum, KVBinServer, KVBinSource}
    val data = Seq.tabulate(400)(i => (f"m_$i%04d".getBytes("UTF-8"),
      s"v$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-multi-").toString
    val regions = KVBin.write(data, dir, 4).map(_.id)
    assert(regions.size > 1, "fixture must split into several regions")
    def parity(id: String) = id match {
      case graft.sources.kvbin.KVBinDataWriter.RegionFile(p) => p.toLong % 2
    }
    val even = new KVBinServer(dir, spark.sessionState.newHadoopConf(), parity(_) == 0)
    val odd = new KVBinServer(dir, spark.sessionState.newHadoopConf(), parity(_) == 1)
    try {
      val endpoints = s"${even.address},${odd.address}"
      val viaFleet = spark.read.format(classOf[KVBinSource].getName)
        .option("path", dir).option("endpoints", endpoints).load()
        .select(col("key").cast("string")).as[String].collect().sorted.toSeq
      val viaFile = KVBin.read(spark, dir).select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      assert(viaFleet === viaFile)
      assert(viaFleet.size === 400)
      // both stores actually served their half (region bytes came from
      // the owner, the sibling saw none of those scans)
      assert(even.scanRequests.get() === regions.count(parity(_) == 0))
      assert(odd.scanRequests.get() === regions.count(parity(_) == 1))
      // the pushed checksum fans CHECKSUM RPCs across the same fleet
      val pushed = KVBinChecksum.pushed(spark, dir, Some(endpoints))
        .as[(Long, Long, Long)].head()
      val scanned = Checksum.of(KVBin.read(spark, dir)).as[(Long, Long, Long)].head()
      assert(pushed === scanned)
      assert(even.checksumRequests.get() + odd.checksumRequests.get() === regions.size)
    } finally { even.close(); odd.close() }
  }

  test("multi-endpoint planning fails fast when stores disagree on api_version") {
    import graft.sources.kvbin.{KVBinServer, MultiSocketRegionClient}
    val conf = spark.sessionState.newHadoopConf()
    val mk = (version: String) => {
      val d = java.nio.file.Files.createTempDirectory(s"kvbin-mixed-$version-").toString
      KVBin.write(Seq(("k".getBytes("UTF-8"), "v".getBytes("UTF-8"))).toDF("key", "value"),
        d, 1, apiVersion = version)
      new KVBinServer(d, conf)
    }
    val (v1, v2) = (mk("V1"), mk("V2"))
    try {
      val client = new MultiSocketRegionClient(Seq(v1.address, v2.address))
      val e = intercept[IllegalStateException] { client.clusterMeta() }
      assert(e.getMessage.contains("disagree"))
    } finally { v1.close(); v2.close() }
  }

  test("kvbin roundtrip preserves arbitrary binary payloads") {
    val data = Seq(
      (Array[Byte](0, 1, 2), Array[Byte](-1, -2)),
      (Array[Byte](0xFF.toByte), Array.emptyByteArray),
      ("plain".getBytes("UTF-8"), "value".getBytes("UTF-8")))
    val df = data.toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-test-").toString
    KVBin.write(df, dir, 2)
    val back = KVBin.read(spark, dir)
      .collect().map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(back === data.map(t => (t._1.toSeq, t._2.toSeq)).toSet)
  }

  /** Runs `body` with the session confs set, then restores them. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A `regions`-region table of `n` keys `<prefix>_NNNN`; `planted`
    * keys get another value. */
  private def packTable(prefix: String, n: Int, regions: Int,
                        planted: Set[Int] = Set.empty): String = {
    val data = Seq.tabulate(n)(i => (f"${prefix}_$i%04d".getBytes("UTF-8"),
      (if (planted(i)) s"other_$i" else s"val_$i").getBytes("UTF-8")))
      .toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory(s"kvbin-$prefix-").toString
    KVBin.write(data, dir, regions)
    dir
  }

  private def kvbinPartitions(dir: String)
      : Seq[graft.sources.kvbin.KVBinInputPartition] =
    new graft.sources.kvbin.KVBinScanBuilder(dir).build()
      .toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[graft.sources.kvbin.KVBinInputPartition])

  test("region readers close every region they open: range-scoped, limited, full and abandoned reads") {
    import graft.sources.kvbin.{FileRegionClient, KVBinInputPartition, KVBinPartitionReader, RegionClient, RegionInfo}
    var opens = 0
    var closes = 0
    def b(s: String) = s.getBytes("UTF-8")
    // two regions, a..m and n..z; iterators count their closes and
    // never close themselves, so every close is the reader's
    val mem: RegionClient = new RegionClient {
      override def clusterMeta(): Map[String, String] = Map("api_version" -> "V1")
      override def listRegions(): Seq[RegionInfo] = Seq(
        RegionInfo("r0", b("a"), b("m"), 13L), RegionInfo("r1", b("n"), b("z"), 13L))
      override def scanRegion(id: String): Iterator[(Array[Byte], Array[Byte])] = {
        opens += 1
        val from = if (id == "r0") 'a' else 'n'
        new Iterator[(Array[Byte], Array[Byte])] with java.io.Closeable {
          private val keys = (from to (from + 12).toChar).iterator
          override def hasNext: Boolean = keys.hasNext
          override def next(): (Array[Byte], Array[Byte]) =
            (b(keys.next().toString), b("v"))
          override def close(): Unit = closes += 1
        }
      }
    }
    def read(p: KVBinInputPartition, take: Int = Int.MaxValue): List[String] = {
      opens = 0; closes = 0
      val r = new KVBinPartitionReader(p)
      val got = Iterator.continually(r).takeWhile(_.next()).take(take)
        .map(x => new String(x.get().getBinary(0), "UTF-8")).toList
      r.close()
      got
    }
    val both = Seq("r0", "r1")
    // range-scoped: the read stops inside r1 at the range end
    assert(read(KVBinInputPartition(mem, both, b("c"), b("p"), null,
      Array("key"))) === ('c' to 'o').map(_.toString).toList)
    assert((opens, closes) === (2, 2), "range-scoped read")
    // limited: the partial limit applies per region
    assert(read(KVBinInputPartition(mem, both, null, null, null,
      Array("key"), limit = 2)) === List("a", "b", "n", "o"))
    assert((opens, closes) === (2, 2), "limited read")
    // full
    assert(read(KVBinInputPartition(mem, both, null, null, null,
      Array("key"))).size === 26)
    assert((opens, closes) === (2, 2), "full read")
    // abandoned mid-region (a downstream limit stops pulling): close()
    // closes the open region, and r1 is never opened
    assert(read(KVBinInputPartition(mem, both, null, null, null,
      Array("key")), take = 3) === List("a", "b", "c"))
    assert((opens, closes) === (1, 1), "abandoned read")
    // the file-backed client's region iterator is closeable too
    val dir = packTable("lk", 40, 2)
    val client = new FileRegionClient(dir, new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val it = client.scanRegion(client.listRegions().head.id)
    assert(it.isInstanceOf[java.io.Closeable])
    it.next()
    it.asInstanceOf[java.io.Closeable].close()
    it.asInstanceOf[java.io.Closeable].close() // idempotent
  }

  test("region packing: partitions cover every pruned region once, in key order, within the split cap") {
    import graft.sources.kvbin.KVBinInputPartition
    val dir = packTable("pk", 1600, 16)
    val conf = spark.sessionState.newHadoopConf()
    val byKey = KVBin.readIndex(dir, conf).sortBy(_.minKey)(KVBin.keyOrder).map(_.id)
    assert(byKey.size === 16)
    // the test session has several cores, so by default the table
    // spreads over several partitions, each a contiguous key run
    val parts = kvbinPartitions(dir)
    assert(parts.size > 1 && parts.size < 16, s"partitions=${parts.size}")
    assert(parts.flatMap(_.regionIds) === byKey)
    // a pruned scan: the survivors, once each, in key order
    val narrow = KVBin.read(spark, dir)
      .filter(col("key") >= lit("pk_0250".getBytes("UTF-8")) &&
        col("key") < lit("pk_0900".getBytes("UTF-8")))
    val kept = scanPartitions(narrow)
      .flatMap(_.asInstanceOf[KVBinInputPartition].regionIds)
    assert(kept.nonEmpty && kept.size < 16 && kept === byKey.filter(kept.toSet))
    assert(byKey.slice(byKey.indexOf(kept.head), byKey.indexOf(kept.last) + 1) === kept)
    assert(narrow.count() === 650L)
    // the cap: Spark's file split rule over (bytes + open cost) per
    // region; a bin exceeds it only when it holds a single region, and
    // a bin closes only when the next region would not fit (next fit)
    val openCost = 2000L
    withConfs("spark.sql.files.openCostInBytes" -> openCost.toString,
        "spark.sql.files.maxPartitionBytes" -> "9000") {
      val sizes = new graft.sources.kvbin.FileRegionClient(dir,
        new org.apache.spark.util.SerializableConfiguration(conf))
        .listRegions().map(r => r.id -> (r.bytes + openCost)).toMap
      val total = sizes.values.sum
      val cap = math.min(9000L, math.max(openCost,
        total / spark.sparkContext.defaultParallelism))
      val bins = kvbinPartitions(dir).map(_.regionIds)
      assert(bins.flatten === byKey)
      assert(bins.size > 1, s"bins=$bins")
      bins.foreach(bin => assert(bin.size === 1 || bin.map(sizes).sum <= cap,
        s"bin $bin weighs ${bin.map(sizes).sum} > cap $cap"))
      bins.sliding(2).foreach { case Seq(a, next) =>
        assert(a.map(sizes).sum + sizes(next.head) > cap,
          s"bin $a closed early: next region ${next.head} fits under $cap")
      }
    }
    // minPartitionNum=1 lifts the per-core split: the small table is one task
    withConfs("spark.sql.files.minPartitionNum" -> "1") {
      val one = kvbinPartitions(dir)
      assert(one.size === 1 && one.head.regionIds === byKey)
      assert(KVBin.read(spark, dir).rdd.getNumPartitions === 1)
    }
  }

  test("region packing: a packed partition carries its client (and hadoop conf) once") {
    val dir = packTable("ps", 1600, 16)
    def serializedSize(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o); out.close()
      bytes.size()
    }
    val packed = withConfs("spark.sql.files.minPartitionNum" -> "1")(kvbinPartitions(dir))
    val single = withConfs("spark.sql.files.maxPartitionBytes" -> "1")(kvbinPartitions(dir))
    assert(packed.size === 1 && packed.head.regionIds.size === 16)
    assert(single.size === 16 && single.forall(_.regionIds.size === 1))
    val (p16, p1) = (serializedSize(packed.head), serializedSize(single.head))
    assert(p16 < 2 * p1, s"16-region partition $p16 B vs 1-region $p1 B")
  }

  test("region packing: one region per partition and packed partitions give equal answers") {
    import graft.operators.Diff
    val planted = Set(3, 4, 5, 700, 1201)
    val srcDir = packTable("eq", 1600, 16)
    val dstDir = packTable("eq", 1600, 16, planted)
    val dimPath = java.nio.file.Files.createTempDirectory("kvbin-eqdim-").toString
    Seq(("eq_0007", 1), ("eq_0008", 1), ("eq_1500", 1), ("eq_0900", 2))
      .toDF("ks", "grp").write.mode("overwrite").parquet(dimPath)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map {
        case b: Array[Byte] => new String(b, "UTF-8")
        case other => String.valueOf(other)
      }.mkString("|")).toSeq.sorted
    def answers(): (Seq[Seq[String]], Int, Boolean) = {
      val (src, dst) = (KVBin.read(spark, srcDir), KVBin.read(spark, dstDir))
      // a selective build side, so the planner injects a runtime filter
      val dim = spark.read.parquet(dimPath).filter(col("grp") === 1)
        .select(col("ks").cast("binary").as("k"))
      val joined = src.join(dim, col("key") === col("k"))
      val pushedAgg = src.agg(count(lit(1)), min(col("key")), max(col("key")))
      val got = Seq(
        Seq(src.count().toString),
        rows(Checksum.verdict(src, dst)),
        rows(Diff.diff(src, dst)),
        rows(Diff.checksumPrunedDiff(src, dst)),
        rows(src.filter(col("key") >= lit("eq_0123".getBytes("UTF-8")) &&
          col("key") <= lit("eq_0777".getBytes("UTF-8")))),
        rows(src.limit(5)),
        rows(joined),
        rows(pushedAgg))
      val dynamic = joined.queryExecution.executedPlan.toString.contains("dynamicpruning")
      assert(pushedAgg.queryExecution.executedPlan.toString.contains("PushedAggregates"))
      (got, src.rdd.getNumPartitions, dynamic)
    }
    withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "4096",
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false") {
      val (perRegion, nPerRegion, dyn1) =
        withConfs("spark.sql.files.maxPartitionBytes" -> "1")(answers())
      val (packed, nPacked, dyn2) = answers()
      assert(nPerRegion === 16 && nPacked < 16, s"$nPerRegion vs $nPacked")
      assert(dyn1 && dyn2, "the join must carry a runtime filter")
      assert(perRegion === packed)
      assert(packed(0) === Seq("1600"))
      assert(packed(2).size === planted.size && packed(3) === packed(2))
      assert(packed(5).size === 5 && packed(6).size === 3)
      assert(packed(7) === Seq("1600|eq_0000|eq_1599"))
    }
  }

  test("KVBinScan value equality: built alike ⇒ equal and hash alike; any identity field differs ⇒ unequal") {
    import graft.sources.kvbin.{KVBinAgg, KVBinScan, KVBinScanBuilder, KVBinSource, StatBound}
    import org.apache.spark.sql.types.StructType
    val dir = packTable("id", 200, 4)
    val a = new KVBinScanBuilder(dir).build()
    val b = new KVBinScanBuilder(dir).build()
    assert(a === b && a.hashCode === b.hashCode)
    def k(s: String) = s.getBytes("UTF-8")
    def mk(dir: String = dir, start: Array[Byte] = k("a"), end: Array[Byte] = k("m"),
           endIncl: Array[Byte] = null, required: StructType = KVBinSource.schema,
           api: Option[String] = None, endpoints: Option[String] = None,
           agg: Option[Seq[KVBinAgg]] = None, limit: Option[Int] = None,
           statDefs: Seq[(String, String)] = Nil,
           statBounds: Seq[StatBound] = Nil): KVBinScan =
      new KVBinScan(dir, start, end, endIncl, required, api, endpoints, agg,
        limit, statDefs, statBounds)
    val base = mk()
    // equal byte CONTENTS in fresh arrays are the same scope
    assert(base === mk() && base.hashCode === mk().hashCode)
    val variants = Seq(
      "dir" -> mk(dir = dir + "-other"),
      "start" -> mk(start = k("b")),
      "start=null" -> mk(start = null),
      "end" -> mk(end = k("n")),
      "endIncl" -> mk(endIncl = k("z")),
      "required" -> mk(required = StructType(KVBinSource.schema.fields.take(1))),
      "expectedApiVersion" -> mk(api = Some("V2")),
      "endpoints" -> mk(endpoints = Some("localhost:1")),
      "agg" -> mk(agg = Some(Seq(KVBinAgg.CountAll))),
      "limit" -> mk(limit = Some(3)),
      "statDefs" -> mk(statDefs = Seq("vl" -> "vlen")),
      "statBounds" -> mk(statBounds = Seq(StatBound(0, "vl", "vlen", 0L, 5L))))
    variants.foreach { case (field, v) =>
      assert(v !== base, s"scans differing only in $field compare equal")
    }
    // the runtime key set is not identity: it arrives after planning, and
    // the hash must not move under the planner's feet
    val h = a.hashCode
    a.asInstanceOf[KVBinScan].filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("key", Array[Any](k("id_0001")))))
    assert(a.hashCode === h && a === b)
  }

  test("KVBinScan value equality: a fresh read after an in-place rewrite answers the new data") {
    import graft.operators.Diff
    val a = packTable("rw", 400, 4)
    val b = packTable("rw", 400, 4)
    def verdict() = Checksum.verdict(KVBin.read(spark, a), KVBin.read(spark, b))
      .select("matches").as[Boolean].head()
    def diffKeys() = Diff.checksumPrunedDiff(KVBin.read(spark, a), KVBin.read(spark, b))
      .select(col("key").cast("string")).as[String].collect().sorted.toSeq
    assert(verdict())
    assert(diffKeys().isEmpty)
    val rewritten = Seq.tabulate(400)(i => (f"rw_$i%04d".getBytes("UTF-8"),
      (if (i == 17) "changed" else s"val_$i").getBytes("UTF-8"))).toDF("key", "value")
    KVBin.write(rewritten, a, 4)
    assert(!verdict(), "verdict answered the replaced table")
    assert(diffKeys() === Seq("rw_0017"))
  }

  private def kvbinFmt = classOf[graft.sources.kvbin.KVBinSource].getName

  /** Regions a scan opens: the region ids summed across its kvbin input
    * partitions (a packed partition holds a key run of several). */
  private def regionsOpened(
      parts: collection.Seq[org.apache.spark.sql.connector.read.InputPartition]): Int =
    parts.collect {
      case p: graft.sources.kvbin.KVBinInputPartition => p.regionIds.size
    }.sum
  private def regionsOpened(df: org.apache.spark.sql.DataFrame): Int =
    regionsOpened(scanPartitions(df))
  private def scanPartitions(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.connector.read.InputPartition] =
    df.queryExecution.executedPlan.collectLeaves().toSeq
      .collect { case b: BatchScanExec => b.inputPartitions }.flatten

  test("KVBin.write over a live table: fresh region names, old generation swept") {
    val data = Seq.tabulate(400)(i => (f"rw_$i%04d".getBytes("UTF-8"),
      s"v$i".getBytes("UTF-8"))).toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-rw-").toString
    val oldNames = KVBin.write(data, dir, 4).map(_.id).toSet
    assert(oldNames.size === 4, s"fixture must split into 4 regions: $oldNames")
    val newNames = KVBin.write(data, dir, 2).map(_.id).toSet
    assert(newNames.size === 2)
    // a rewrite must never truncate a file the live index still names,
    // and the regions the new index drops must not outlive the swap
    assert((newNames & oldNames).isEmpty,
      s"rewrite reused live region names: ${newNames & oldNames}")
    val onDisk = new java.io.File(dir).list().filter(_.endsWith(".kv")).toSet
    assert(onDisk === newNames, s"region files on disk beyond the index: ${onDisk -- newNames}")
    assert(KVBin.read(spark, dir).count() === 400)
    // an empty rewrite leaves an empty table; an empty write to a path
    // that does not exist yet creates one
    assert(KVBin.write(data.limit(0), dir, 2).isEmpty)
    assert(!new java.io.File(dir).list().exists(_.endsWith(".kv")))
    val fresh = java.nio.file.Files.createTempDirectory("kvbin-rw0-").resolve("t").toString
    assert(KVBin.write(data.limit(0), fresh, 2).isEmpty)
    assert(KVBin.read(spark, fresh).count() === 0)
  }

  test("DSv2 write refuses a column that is not key, value, a declared stat or __cluster") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-col-").toString
    val kv = Seq(("k".getBytes("UTF-8"), "v".getBytes("UTF-8"), 7L))
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    val e = intercept[Exception] {
      kv.toDF("key", "value", "extra").write.format(kvbinFmt)
        .option("path", dir).mode("overwrite").save()
    }
    assert(rootChain(e).exists(m => m != null && m.contains("unexpected column extra")),
      rootChain(e).mkString(" | "))
    // the placement column is accepted (and never stored)
    kv.toDF("key", "value", "__cluster").write.format(kvbinFmt)
      .option("path", dir).mode("overwrite").save()
    assert(KVBin.read(spark, dir).columns.toSeq === Seq("key", "value"))
    assert(KVBin.read(spark, dir).count() === 1)
  }

  test("__cluster placement steers the path write and the wire write alike") {
    import graft.sources.kvbin.KVBinServer
    val conf = spark.sessionState.newHadoopConf()
    // cluster = key parity: two regions that interleave in key space,
    // where key placement would give two disjoint key ranges
    val kv = Seq.tabulate(200)(i => (f"zc_$i%04d".getBytes("UTF-8"),
      s"v$i".getBytes("UTF-8"), (i % 2).toLong)).toDF("key", "value", "__cluster")
    def interleaved(idx: Seq[graft.sources.kvbin.RegionInfo]): Boolean =
      idx.size == 2 && KVBin.compare(idx(1).minKey, idx(0).maxKey) < 0
    val dir = java.nio.file.Files.createTempDirectory("kvbin-zc-").toString
    assert(interleaved(KVBin.write(kv, dir, 2)))
    assert(!interleaved(KVBin.write(kv.drop("__cluster"), dir, 2)))
    val wdir = java.nio.file.Files.createTempDirectory("kvbin-zcw-").toString
    val server = new KVBinServer(wdir, conf)
    try {
      kv.write.format(kvbinFmt).option("endpoints", server.address)
        .option("ranges", "2").mode("overwrite").save()
      assert(interleaved(KVBin.readIndex(wdir, conf)))
    } finally server.close()
    assert(KVBin.read(spark, wdir).count() === 200)
  }

  test("SCAN closes the region file when the client drops mid-scan") {
    import graft.sources.kvbin.KVBinServer
    import scala.jdk.CollectionConverters._
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "counts open descriptors through /proc")
    val dir = java.nio.file.Files.createTempDirectory("kvbin-drop-").toString
    // one region far larger than the loopback socket buffers: the
    // server is still writing it when the client goes away
    val value = new Array[Byte](64 << 10)
    val kv = Seq.tabulate(512)(i => (f"dr_$i%04d".getBytes("UTF-8"), value))
      .toDF("key", "value")
    val id = KVBin.write(kv, dir, 1).head.id
    val region = new java.io.File(dir, id).getCanonicalPath
    def openFds(): Int = Option(fdDir.listFiles).toSeq.flatten.count(f =>
      scala.util.Try(java.nio.file.Files.readSymbolicLink(f.toPath).toString)
        .toOption.contains(region))
    def serveThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == "kvbin-serve").toSet
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      val before = serveThreads()
      val Array(host, port) = server.address.split(":", 2)
      val sock = new java.net.Socket(host, port.toInt)
      sock.getOutputStream.write(s"SCAN $id\n".getBytes("UTF-8"))
      sock.getOutputStream.flush()
      val in = new java.io.DataInputStream(sock.getInputStream)
      val k = new Array[Byte](in.readInt()); in.readFully(k)
      in.readFully(new Array[Byte](in.readInt()))
      assert(new String(k, "UTF-8") === "dr_0000")
      val serving = serveThreads() -- before
      assert(serving.nonEmpty && openFds() === 1, "the scan holds the region open")
      sock.close()
      serving.foreach(_.join(30000))
      assert(serving.forall(!_.isAlive), "the serve thread must end")
      assert(openFds() === 0, s"region $id still open after the client left")
    } finally server.close()
  }

  test("DSv2 write: overwrite roundtrip is checksum-identical; regions are disjoint sorted ranges") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-w-").toString
    // the source frame arrives UNSORTED and arbitrarily partitioned —
    // RequiresDistributionAndOrdering must make Spark plan the
    // range-partition + sort itself (4 declared ranges)
    parquetSrc.write.format(kvbinFmt)
      .option("path", dir).option("ranges", "4").option("api_version", "V2")
      .mode("overwrite").save()
    val back = spark.read.format(kvbinFmt)
      .option("path", dir).option("api_version", "V2").load()
    val a = Checksum.of(parquetSrc).as[(Long, Long, Long)].head()
    val b = Checksum.of(back).as[(Long, Long, Long)].head()
    assert(a === b)
    assert(a._2 > 0)
    val idx = KVBin.readIndex(dir, spark.sessionState.newHadoopConf())
    assert(idx.size === 4, s"expected 4 regions, got ${idx.size}")
    // contiguous non-overlapping: each region's max key sorts strictly
    // before the next region's min key (keys are unique in the snapshot)
    idx.sliding(2).foreach {
      case Seq(x, y) => assert(KVBin.compare(x.maxKey, y.minKey) < 0,
        s"regions overlap: ${x.id} .. ${y.id}")
      case _ => ()
    }
    assert(KVBin.readMeta(dir, spark.sessionState.newHadoopConf())("api_version") === "V2")
  }

  test("endpoints-only WRITE: rows travel as PUT frames, land through one wire COMMIT, read back checksum-identical") {
    import graft.sources.kvbin.KVBinServer
    val dir = java.nio.file.Files.createTempDirectory("kvbin-ww-").toString
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      // write with NO path option: the store's directory is reachable
      // only through the server
      parquetSrc.write.format(kvbinFmt)
        .option("endpoints", server.address)
        .option("ranges", "4").option("api_version", "V2")
        .mode("overwrite").save()
      assert(server.putRequests.get() > 0, "rows must travel as PUT frames")
      assert(server.commitRequests.get() === 1, "exactly one COMMIT")
      // read back over the SAME wire — full loop with no shared path
      val back = spark.read.format(kvbinFmt)
        .option("endpoints", server.address).option("api_version", "V2").load()
      val a = Checksum.of(parquetSrc).as[(Long, Long, Long)].head()
      val b = Checksum.of(back).as[(Long, Long, Long)].head()
      assert(a === b)
      assert(a._2 > 0)
      // the server-side commit ran the IDENTICAL KVBinCommit logic:
      // region invariants and generation stamping are all there
      val conf = spark.sessionState.newHadoopConf()
      val idx = KVBin.readIndex(dir, conf)
      assert(idx.size === 4)
      idx.sliding(2).foreach {
        case Seq(x, y) => assert(KVBin.compare(x.maxKey, y.minKey) < 0)
        case _ => ()
      }
      val meta = KVBin.readMeta(dir, conf)
      assert(meta("api_version") === "V2")
      assert(meta("generation") === "1" && meta.contains("table_id"))
    } finally server.close()
  }

  test("wire APPEND bumps the generation; a stale planned (generation, table_id) is refused naming the remedy") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val dir = java.nio.file.Files.createTempDirectory("kvbin-wa-").toString
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      val (w1, w2) = parquetSrc.collect().toSeq.splitAt(100)
      def frame(rows: Seq[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
          .toDF("key", "value")
      frame(w1).write.format(kvbinFmt).option("endpoints", server.address)
        .option("ranges", "2").mode("overwrite").save()
      val cli = new SocketRegionClient(server.address)
      val base = cli.pollMeta()
      assert(base("generation") === "1")
      frame(w2).write.format(kvbinFmt).option("endpoints", server.address)
        .option("ranges", "2").mode("append").save()
      val after = cli.pollMeta()
      assert(after("generation") === "2")
      assert(after("table_id") === base("table_id"))
      // a commit planned against the PRE-append version must refuse:
      // the table moved underneath it (the wire concurrent-writer guard)
      val stale = intercept[IllegalStateException] {
        cli.commitWrite(truncate = false, apiVersion = None,
          preserveMeta = false, stats = Nil, deferSweep = false,
          userMeta = Map.empty,
          plannedBase = Some((base("generation"), base("table_id"))),
          fresh = Nil)
      }
      assert(stale.getMessage.contains("re-plan"), stale.getMessage)
      // content survived both waves intact
      val back = spark.read.format(kvbinFmt)
        .option("endpoints", server.address).load()
      assert(back.count() === parquetSrc.count())
    } finally server.close()
  }

  test("wire PUT without a terminator reclaims the partial file; ABORT deletes named attempts; foreign names refused") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val dir = java.nio.file.Files.createTempDirectory("kvbin-wp-").toString
    val conf = spark.sessionState.newHadoopConf()
    val server = new KVBinServer(dir, conf)
    try {
      // a client that dies mid-stream: frames but no terminator
      val Array(host, port) = server.address.split(":", 2)
      val sock = new java.net.Socket(host, port.toInt)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      out.write("PUT part-00000-deadbeef-1.kv\n".getBytes("UTF-8"))
      out.writeInt(3); out.write("abc".getBytes("UTF-8"))
      out.writeInt(1); out.write("x".getBytes("UTF-8"))
      out.flush()
      sock.close() // no terminator
      // the serve thread reclaims on EOF — poll briefly for the delete
      val f = new java.io.File(dir, "part-00000-deadbeef-1.kv")
      val deadline = System.nanoTime() + 5000000000L
      while (f.exists() && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!f.exists(), "partial attempt file must be reclaimed")
      // ABORT deletes named attempt files…
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
      val keep = new org.apache.hadoop.fs.Path(dir, "part-00001-deadbeef-2.kv")
      fs.create(keep, true).close()
      new SocketRegionClient(server.address)
        .abortWrite(Seq("part-00001-deadbeef-2.kv", "_index"))
      assert(!fs.exists(keep))
      // …but NEVER a name outside the connector's own pattern (_index
      // was in the list above and must have been ignored — prove it by
      // writing one and aborting it again)
      val idx = new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile)
      fs.create(idx, true).close()
      new SocketRegionClient(server.address).abortWrite(Seq("_index"))
      assert(fs.exists(idx), "_index is not an attempt file")
    } finally server.close()
  }

  test("ambiguous wire commit: ABORT never deletes files the committed index references; COMMIT refuses foreign names") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val dir = java.nio.file.Files.createTempDirectory("kvbin-wg-").toString
    val conf = spark.sessionState.newHadoopConf()
    val server = new KVBinServer(dir, conf)
    try {
      parquetSrc.write.format(kvbinFmt).option("endpoints", server.address)
        .option("ranges", "2").mode("overwrite").save()
      val committed = KVBin.readIndex(dir, conf).map(_.id)
      assert(committed.size === 2)
      // the lost-ack scenario: the COMMIT landed, the client saw a
      // failure and aborts naming the very files the index now
      // references — the server must make that abort a NO-OP (the
      // filesystem path's abort only ever touches UNreferenced
      // attempts; the wire path must be no weaker)
      new SocketRegionClient(server.address).abortWrite(committed)
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
      committed.foreach(f => assert(
        fs.exists(new org.apache.hadoop.fs.Path(dir, f)),
        s"abort deleted committed region $f"))
      assert(spark.read.format(kvbinFmt).option("endpoints", server.address)
        .load().count() === parquetSrc.count())
      // COMMIT applies the same naming discipline as PUT/ABORT: a
      // fresh-region entry outside the attempt pattern never reaches
      // the index
      val e = intercept[IllegalStateException] {
        new SocketRegionClient(server.address).commitWrite(
          truncate = false, apiVersion = None, preserveMeta = false,
          stats = Nil, deferSweep = false, userMeta = Map.empty,
          plannedBase = Some {
            val m = new SocketRegionClient(server.address).pollMeta()
            (m("generation"), m("table_id"))
          },
          fresh = Seq(graft.sources.kvbin.RegionInfo(
            "_index", Array[Byte](1), Array[Byte](2), 1L)))
      }
      assert(e.getMessage.contains("naming pattern"), e.getMessage)
    } finally server.close()
  }

  test("endpoints-only writes refuse an UNSCOPED multi-endpoint fleet, naming the ownsRange remedy") {
    import graft.sources.kvbin.KVBinServer
    val dir = java.nio.file.Files.createTempDirectory("kvbin-wm-").toString
    val conf = spark.sessionState.newHadoopConf()
    // two live stores WITHOUT owned ranges: routing is undefined, the
    // WRITE builder must refuse naming the scoping remedy (r14: a
    // SCOPED fleet is a legal destination — see the fleet-write specs)
    val s1 = new KVBinServer(dir, conf)
    val s2 = new KVBinServer(dir, conf)
    try {
      val e = intercept[Exception] {
        parquetSrc.write.format(kvbinFmt)
          .option("endpoints", s"${s1.address},${s2.address}")
          .mode("overwrite").save()
      }
      assert(e.getMessage.contains("no owned range"), e.getMessage)
      assert(e.getMessage.contains("ownsRange"), e.getMessage)
    } finally { s1.close(); s2.close() }
  }

  test("fleet write: PUT streams route by key range, per-store commits share one table identity, fleet read is checksum-identical") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val conf = spark.sessionState.newHadoopConf()
    val dirA = java.nio.file.Files.createTempDirectory("kvbin-fwa-").toString
    val dirB = java.nio.file.Files.createTempDirectory("kvbin-fwb-").toString
    val split = "li_0000000300".getBytes("UTF-8")
    val a = new KVBinServer(dirA, conf,
      ownsRange = Some((Array.emptyByteArray, split)))
    val b = new KVBinServer(dirB, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    try {
      val eps = s"${a.address},${b.address}"
      parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
        .option("ranges", "4").option("api_version", "V1")
        .mode("overwrite").save()
      assert(a.putRequests.get() > 0 && b.putRequests.get() > 0,
        "both stores must receive PUT streams")
      assert(a.commitRequests.get() === 1 && b.commitRequests.get() === 1)
      // routing: every region of A sits strictly below the split,
      // every region of B at or above it
      val idxA = KVBin.readIndex(dirA, conf)
      val idxB = KVBin.readIndex(dirB, conf)
      assert(idxA.nonEmpty && idxB.nonEmpty)
      idxA.foreach(r => assert(KVBin.compare(r.maxKey, split) < 0,
        s"A region ${r.id} leaks past split"))
      idxB.foreach(r => assert(KVBin.compare(r.minKey, split) >= 0,
        s"B region ${r.id} below split"))
      // one shared identity, generation 1 on both shards
      val mA = KVBin.readMeta(dirA, conf)
      val mB = KVBin.readMeta(dirB, conf)
      assert(mA("table_id") === mB("table_id"))
      assert(mA("generation") === "1" && mB("generation") === "1")
      // the fleet READ path serves the union, checksum-identical to src
      val back = spark.read.format(kvbinFmt).option("endpoints", eps)
        .option("api_version", "V1").load()
      val want = Checksum.of(parquetSrc).as[(Long, Long, Long)].head()
      val got = Checksum.of(back).as[(Long, Long, Long)].head()
      assert(got === want)
      // a fleet APPEND routes too and bumps BOTH shards' generations
      parquetSrc.limit(0).unionAll(parquetSrc).write.format(kvbinFmt)
        .option("endpoints", eps).mode("append").save()
      assert(new SocketRegionClient(a.address).pollMeta()("generation") === "2")
      assert(new SocketRegionClient(b.address).pollMeta()("generation") === "2")
      val doubled = Checksum.of(
        spark.read.format(kvbinFmt).option("endpoints", eps).load())
        .as[(Long, Long, Long)].head()
      assert(doubled._2 === 2 * want._2)
    } finally { a.close(); b.close() }
  }

  test("fleet write partial failure: a store dead mid-batch advances NO generation anywhere; attempt files reclaimed") {
    import graft.sources.kvbin.KVBinServer
    val conf = spark.sessionState.newHadoopConf()
    val dirA = java.nio.file.Files.createTempDirectory("kvbin-ffa-").toString
    val dirB = java.nio.file.Files.createTempDirectory("kvbin-ffb-").toString
    val split = "li_0000000300".getBytes("UTF-8")
    val a = new KVBinServer(dirA, conf,
      ownsRange = Some((Array.emptyByteArray, split)))
    val b = new KVBinServer(dirB, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    val eps = s"${a.address},${b.address}"
    // kill B AFTER the builder plans (OWNS answered) but BEFORE any
    // data lands there: the write job must FAIL, and neither store may
    // advance a generation or keep attempt files
    val planned = parquetSrc.write.format(kvbinFmt)
      .option("endpoints", eps).option("ranges", "2").mode("overwrite")
    b.close()
    try {
      intercept[Exception] { planned.save() }
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dirA), conf)
      // store A: no _index was ever committed (no generation advanced)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dirA, KVBin.IndexFile)),
        "store A committed a generation despite the fleet failure")
      // and any acked attempt files on A were reclaimed by ABORT —
      // poll briefly (serve threads run async)
      val deadline = System.nanoTime() + 10000000000L
      def kvFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(dirA))
        .map(_.getPath.getName).filter(_.endsWith(".kv"))
      while (kvFiles().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(kvFiles().isEmpty,
        s"attempt files survived the abort: ${kvFiles().mkString(", ")}")
    } finally a.close()
  }

  test("fleet write hardening: scoped COMMIT refuses out-of-range manifests; routing gaps refuse loudly; overlapping fleets refuse at planning") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient, RegionInfo}
    val conf = spark.sessionState.newHadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("kvbin-fh-").toString
    val lo = "b".getBytes("UTF-8"); val hi = "m".getBytes("UTF-8")
    val s1 = new KVBinServer(dir, conf, ownsRange = Some((lo, hi)))
    try {
      // a manifest straying outside [b, m) is refused server-side even
      // though the client framed a legal COMMIT — the commit-time
      // enforcement of the OWNS contract
      val e = intercept[IllegalStateException] {
        new SocketRegionClient(s1.address).commitWrite(
          truncate = true, apiVersion = None, preserveMeta = false,
          stats = Nil, deferSweep = false, userMeta = Map.empty,
          plannedBase = None,
          fresh = Seq(RegionInfo("part-00000-deadbeef-1.kv",
            "a0".getBytes("UTF-8"), "z9".getBytes("UTF-8"), 5L)))
      }
      assert(e.getMessage.contains("outside") &&
        e.getMessage.contains("owned range"), e.getMessage)
      // a fleet whose ranges leave a gap refuses a row IN the gap,
      // naming the key — never silently dropping it
      val dir2 = java.nio.file.Files.createTempDirectory("kvbin-fh2-").toString
      val s2 = new KVBinServer(dir2, conf,
        ownsRange = Some(("x".getBytes("UTF-8"), Array.emptyByteArray)))
      try {
        val gap = intercept[Exception] {
          Seq(("q-in-the-gap", "v")).toDF("key", "value")
            .select(col("key").cast("binary").as("key"),
              col("value").cast("binary").as("value"))
            .write.format(kvbinFmt)
            .option("endpoints", s"${s1.address},${s2.address}")
            .mode("overwrite").save()
        }
        def anyMsg(t: Throwable): String =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
        assert(anyMsg(gap).contains("leave a gap"), anyMsg(gap).take(400))
      } finally s2.close()
      // overlapping ranges are a planning-time refusal
      val dir3 = java.nio.file.Files.createTempDirectory("kvbin-fh3-").toString
      val s3 = new KVBinServer(dir3, conf,
        ownsRange = Some(("c".getBytes("UTF-8"), "z".getBytes("UTF-8"))))
      try {
        val ov = intercept[Exception] {
          parquetSrc.limit(1).write.format(kvbinFmt)
            .option("endpoints", s"${s1.address},${s3.address}")
            .mode("overwrite").save()
        }
        assert(ov.getMessage.contains("overlap"), ov.getMessage)
      } finally s3.close()
    } finally s1.close()
  }

  test("streaming fleet replica: per-store markers make replay exactly-once per store; a crash between per-store applies CONVERGES; empty shards still advance their marker") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    import graft.streaming.StreamEntries
    val conf = spark.sessionState.newHadoopConf()
    val dirA = java.nio.file.Files.createTempDirectory("kvbin-sfa-").toString
    val dirB = java.nio.file.Files.createTempDirectory("kvbin-sfb-").toString
    val split = "m".getBytes("UTF-8")
    val a = new KVBinServer(dirA, conf,
      ownsRange = Some((Array.emptyByteArray, split)))
    val b = new KVBinServer(dirB, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    try {
      val fleet = Seq(a.address, b.address)
      val eps = fleet.mkString(",")
      val tid = java.util.UUID.randomUUID().toString
      def kv(rows: (String, String)*) = rows.toSeq.toDF("key", "value")
        .select(col("key").cast("binary").as("key"),
          col("value").cast("binary").as("value"))
      def markerOf(addr: String) = new SocketRegionClient(addr)
        .pollMeta().get("replica_batch").map(_.toLong).getOrElse(-1L)
      def fleetRows() = spark.read.format(kvbinFmt).option("endpoints", eps)
        .load().select(col("key").cast("string"), col("value").cast("string"))
        .as[(String, String)].collect().toSeq.sorted
      // batch 0 spans both shards: per-store overwrites stamp the ONE
      // lineage identity and marker 0 on each store's own index swap
      val batch0 = kv("apple" -> "1", "zebra" -> "1")
      StreamEntries.applyReplicaBatchFleetWire(fleet, batch0, 0L, tid)
      assert(markerOf(a.address) === 0L && markerOf(b.address) === 0L)
      assert(KVBin.readMeta(dirA, conf)("table_id") === tid)
      assert(KVBin.readMeta(dirB, conf)("table_id") === tid)
      assert(fleetRows() === Seq("apple" -> "1", "zebra" -> "1"))
      // crash BETWEEN per-store applies of batch 1: manufacture the
      // exact partial state (A stamped, B not) by landing A's shard
      // through the same single-store write the sink issues
      val batch1 = kv("berry" -> "2", "zulu" -> "2")
      batch1.filter(col("key") < lit(split)).write.format(kvbinFmt)
        .option("endpoints", a.address).option("api_version", "V1")
        .option("meta.replica_batch", "1").mode("append").save()
      assert(markerOf(a.address) === 1L && markerOf(b.address) === 0L)
      val (putsA, commitsA) = (a.putRequests.get(), a.commitRequests.get())
      // the replay of batch 1 (what a restarted stream does): A's own
      // marker says applied -> SKIPPED (no PUT, no COMMIT reaches A);
      // B catches up — the replica converges with no cross-store
      // barrier and no duplicated rows on A
      StreamEntries.applyReplicaBatchFleetWire(fleet, batch1, 1L, tid)
      assert(a.putRequests.get() === putsA && a.commitRequests.get() === commitsA,
        "the replay must not re-apply batch 1 to the already-stamped store")
      assert(markerOf(a.address) === 1L && markerOf(b.address) === 1L)
      assert(fleetRows() === Seq("apple" -> "1", "berry" -> "2",
        "zebra" -> "1", "zulu" -> "2"))
      // batch 2 lands ONLY in B's range: A's zero-row append still
      // advances A's marker (one commit, no PUT), so a later replay of
      // batch 2 skips A instead of probing forever
      val batch2 = kv("zither" -> "3")
      StreamEntries.applyReplicaBatchFleetWire(fleet, batch2, 2L, tid)
      assert(a.putRequests.get() === putsA && a.commitRequests.get() === commitsA + 1)
      assert(markerOf(a.address) === 2L && markerOf(b.address) === 2L)
      assert(fleetRows().size === 5)
      // a fleet whose owned ranges leave a GAP refuses the whole batch
      // loudly — a gap row would otherwise be dropped silently, which
      // a replica can never do
      val dirC = java.nio.file.Files.createTempDirectory("kvbin-sfc-").toString
      val c = new KVBinServer(dirC, conf,
        ownsRange = Some(("x".getBytes("UTF-8"), Array.emptyByteArray)))
      try {
        val gap = intercept[IllegalArgumentException] {
          StreamEntries.applyReplicaBatchFleetWire(
            Seq(a.address, c.address), batch0, 0L, tid)
        }
        assert(gap.getMessage.contains("tile"), gap.getMessage)
      } finally c.close()
    } finally { a.close(); b.close() }
  }

  test("compaction merges regions, keeps content checksum-identical, preserves api_version and range invariants") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-c-").toString
    parquetSrc.write.format(kvbinFmt)
      .option("path", dir).option("ranges", "8").option("api_version", "V2")
      .mode("overwrite").save()
    val conf = spark.sessionState.newHadoopConf()
    val before = Checksum.of(KVBin.read(spark, dir)).as[(Long, Long, Long)].head()
    val oldFiles = KVBin.readIndex(dir, conf).map(_.id).toSet
    assert(oldFiles.size === 8)
    // plant an extra meta header line THROUGH the Hadoop FS (a raw
    // file write would orphan the local FS's sidecar .crc): compaction
    // must carry it over
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val idxPath = new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile)
    val cur = {
      val in = fs.open(idxPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val out = fs.create(idxPath, true)
    out.write(s"#note=keepme\n$cur".getBytes("UTF-8"))
    out.close()
    graft.sources.kvbin.KVBinCompact.compact(spark, dir, 2)
    assert(KVBin.readMeta(dir, conf).get("note") === Some("keepme"))
    val idx = KVBin.readIndex(dir, conf)
    assert(idx.size === 2, s"expected 2 regions, got ${idx.size}")
    // content identical, old generation reclaimed, ranges disjoint,
    // meta (api_version) carried over by the compactor
    assert(Checksum.of(KVBin.read(spark, dir)).as[(Long, Long, Long)].head() === before)
    val left = new java.io.File(dir).list().toSet
    assert(oldFiles.forall(f => !left.contains(f)), s"old regions not swept: ${oldFiles intersect left}")
    idx.sliding(2).foreach {
      case Seq(x, y) => assert(KVBin.compare(x.maxKey, y.minKey) < 0)
      case _ => ()
    }
    assert(KVBin.readMeta(dir, conf)("api_version") === "V2")
    // the same rebalance runs the SPLIT direction: a target above the
    // current count divides oversized regions, content unchanged
    graft.sources.kvbin.KVBinCompact.compact(spark, dir, 5)
    assert(KVBin.readIndex(dir, conf).size === 5)
    assert(Checksum.of(KVBin.read(spark, dir)).as[(Long, Long, Long)].head() === before)
  }

  test("plain overwrite RESETS extra meta; preserve_meta carries it; append always preserves") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-m2-").toString
    val conf = spark.sessionState.newHadoopConf()
    parquetSrc.limit(10).write.format(kvbinFmt)
      .option("path", dir).option("api_version", "V1").mode("overwrite").save()
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val idx = new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile)
    val cur = {
      val in = fs.open(idx)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val out = fs.create(idx, true)
    out.write(s"#note=keepme\n$cur".getBytes("UTF-8")); out.close()
    // append: extra meta carries over (existing contract)
    parquetSrc.limit(3).write.format(kvbinFmt)
      .option("path", dir).mode("append").save()
    assert(KVBin.readMeta(dir, conf).get("note") === Some("keepme"))
    // overwrite with preserve_meta: carried through the atomic commit
    parquetSrc.limit(5).write.format(kvbinFmt)
      .option("path", dir).option("preserve_meta", "true")
      .mode("overwrite").save()
    assert(KVBin.readMeta(dir, conf).get("note") === Some("keepme"))
    // plain overwrite: a NEW table generation — extra meta resets
    parquetSrc.limit(5).write.format(kvbinFmt)
      .option("path", dir).option("api_version", "V1").mode("overwrite").save()
    assert(KVBin.readMeta(dir, conf).get("note") === None)
  }

  test("DSv2 write: append merges new regions into the index; truncate swaps the generation") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-a-").toString
    val half1 = parquetSrc.filter(crc32(col("key")) % 2 === 0)
    val half2 = parquetSrc.filter(crc32(col("key")) % 2 === 1)
    half1.write.format(kvbinFmt).option("path", dir).option("ranges", "2")
      .mode("overwrite").save()
    half2.write.format(kvbinFmt).option("path", dir).option("ranges", "2")
      .mode("append").save()
    val conf = spark.sessionState.newHadoopConf()
    assert(KVBin.readIndex(dir, conf).size === 4)
    val back = spark.read.format(kvbinFmt).option("path", dir).load()
    assert(Checksum.of(back).as[(Long, Long, Long)].head() ===
      Checksum.of(parquetSrc).as[(Long, Long, Long)].head())
    // truncate: the new 1-region generation replaces all four files
    parquetSrc.limit(10).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "1").mode("overwrite").save()
    assert(KVBin.readIndex(dir, conf).size === 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
    assert(files.count(_.endsWith(".kv")) === 1,
      s"stale region files survived the truncate: ${files.toSeq}")
    assert(spark.read.format(kvbinFmt).option("path", dir).load().count() === 10)
  }

  test("DSv2 write: names are job-tagged, append preserves meta, sweep spares foreign files") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-m-").toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    parquetSrc.write.format(kvbinFmt).option("path", dir).option("ranges", "2")
      .option("api_version", "V2").mode("overwrite").save()
    // file names carry the per-write job tag (cross-application
    // uniqueness: taskIds restart at 0 in a fresh application, so the
    // bare part-<pid>-<task>.kv shape could truncate a LIVE region)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.endsWith(".kv")).toSeq
    names.foreach(n => assert(
      graft.sources.kvbin.KVBinDataWriter.RegionFile.matches(n) &&
        n.split("-").length == 4, s"un-tagged region name $n"))
    // a foreign file survives the next commit's sweep
    val foreign = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    fs.create(foreign, true).close()
    // append WITHOUT the api_version option: the V2 stamp must carry
    // over, not silently downgrade to the V1 default
    parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
      .mode("append").save()
    assert(KVBin.readMeta(dir, conf).get("api_version").contains("V2"))
    assert(fs.exists(foreign), "commit sweep deleted a foreign file")
    // append with a CONFLICTING version is an error, not a downgrade
    val e = intercept[Exception] {
      parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
        .option("api_version", "V1").mode("append").save()
    }
    assert(e.getMessage != null && e.getMessage.contains("api_version"),
      s"unexpected: ${e.getMessage}")
  }

  test("DSv2 write: jobTag embeds the full queryId hex — no 32-bit compression") {
    val uuid = "3f2504e0-4f89-11d3-9a0c-0305e82c3301"
    assert(graft.sources.kvbin.KVBinDataWriter.jobTag(uuid) ===
      uuid.replace("-", ""))
    // a non-hex queryId still yields 64 bits of real hash, not hashCode
    val t = graft.sources.kvbin.KVBinDataWriter.jobTag("not-a-uuid-query")
    assert(t.length === 16 && t.forall(c => "0123456789abcdef".contains(c)))
    // dash-stripping applies ONLY to the canonical UUID shape: arbitrary
    // dashed hex would alias distinct ids ('ab-c' vs 'a-bc'), so both
    // hash — to DIFFERENT tags — and an all-dash id can't yield an
    // empty tag outside the sweep pattern
    val amb = Seq("ab-c", "a-bc", "---")
      .map(graft.sources.kvbin.KVBinDataWriter.jobTag)
    assert(amb.distinct.size === 3 && amb.forall(_.length === 16))
    // both shapes stay inside the sweep's own naming pattern
    for (tag <- Seq(uuid.replace("-", ""), t))
      assert(graft.sources.kvbin.KVBinDataWriter.RegionFile
        .matches(s"part-00000-$tag-17.kv"))
  }

  test("DSv2 write: append commit detects a concurrently-changed _index and refuses") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-c-").toString
    parquetSrc.limit(20).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "1").mode("overwrite").save()
    // plan an append NOW (fingerprint captured at construction)...
    val bw = new graft.sources.kvbin.KVBinBatchWrite(dir, truncate = false,
      apiVersion = None, preserveMeta = false,
      queryId = "deadbeef-0000-0000-0000-000000000001")
    // ...then a rival writer commits, changing the index generation
    parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
      .mode("append").save()
    val e = intercept[IllegalStateException] {
      bw.commit(Array(graft.sources.kvbin.KVBinCommitMessage(
        graft.sources.kvbin.RegionInfo("part-00000-deadbeef-9.kv",
          KVBin.unhex("00"), KVBin.unhex("ff"), 1L))))
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the rival's commit survives untouched: 1 + 1 regions in the index
    assert(KVBin.readIndex(dir, spark.sessionState.newHadoopConf()).size === 2)
  }

  test("DSv2 write: orphan regions from a dead batch stay invisible and are swept at the next commit") {
    // a task/batch that dies mid-write (before abort could run) leaves
    // attempt files `_index` never references — the streaming kvbin
    // sink's crash contract: readers plan ONLY from _index, so orphans
    // contribute nothing, and the NEXT generation's commit sweep
    // reclaims them (they match the connector's naming pattern and are
    // absent from the new index)
    val dir = java.nio.file.Files.createTempDirectory("kvbin-o-").toString
    parquetSrc.limit(20).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "1").mode("overwrite").save()
    val before = spark.read.format(kvbinFmt).option("path", dir).load().count()
    val orphan = java.nio.file.Paths.get(dir, "part-00009-deadbeef-42.kv")
    java.nio.file.Files.write(orphan, Array.fill[Byte](64)(0x7f))
    assert(spark.read.format(kvbinFmt).option("path", dir).load().count() === before,
      "orphan region became visible to planning")
    parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "1").mode("overwrite").save()
    assert(!java.nio.file.Files.exists(orphan),
      "next commit's sweep left the orphan region on disk")
    assert(spark.read.format(kvbinFmt).option("path", dir).load().count() === 5)
  }

  // ---- streaming source (micro-batch tail of the region index) ----

  test("streaming offset JSON roundtrips; order-insensitive set semantics") {
    import graft.sources.kvbin.{KVBinGenOffset, KVBinOffsets, KVBinStreamOffset}
    val o = KVBinStreamOffset(Seq("b.kv", "a.kv"))
    assert(KVBinStreamOffset.fromJson(o.json()).regions.toSet === Set("a.kv", "b.kv"))
    // serialization sorts: checkpointed offsets compare stably across
    // restarts regardless of index listing order
    assert(o.json() === KVBinStreamOffset(Seq("a.kv", "b.kv")).json())
    assert(KVBinStreamOffset.fromJson(KVBinStreamOffset(Nil).json()).regions.isEmpty)
    // a region name carrying the JSON delimiters would corrupt the
    // checkpoint roundtrip — refused at serialization, not on restart
    intercept[IllegalArgumentException](KVBinStreamOffset(Seq("a,b.kv")).json())
    intercept[IllegalArgumentException](KVBinStreamOffset(Seq("a\"b.kv")).json())
    // the epoch form: one (table_id, generation) pair, O(1) forever
    val g = KVBinGenOffset("3f2504e0-4f89-11d3-9a0c-0305e82c3301", 42L)
    assert(KVBinOffsets.fromJson(g.json()) === g)
    // both shapes deserialize through the shared entry point — a
    // checkpoint written by either era restarts cleanly
    assert(KVBinOffsets.fromJson(o.json()) ===
      KVBinStreamOffset(Seq("a.kv", "b.kv")))
    intercept[IllegalArgumentException](KVBinOffsets.fromJson("nonsense"))
    // a non-hex table_id cannot serialize (the hand parser's contract)
    intercept[IllegalArgumentException](KVBinGenOffset("bad\"id", 1L).json())
  }

  test("epoch offsets: checkpoint state is ONE pair regardless of generations (vs the name set's O(regions))") {
    import graft.sources.kvbin.{KVBinGenOffset, KVBinMicroBatchStream, KVBinStreamOffset}
    import org.apache.spark.util.SerializableConfiguration
    val dir = java.nio.file.Files.createTempDirectory("kvbin-eo-").toString
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    parquetSrc.limit(40).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "2").mode("overwrite").save()
    val tail = new KVBinMicroBatchStream(dir, null, null, null,
      new org.apache.spark.sql.types.StructType()
        .add("key", "binary").add("value", "binary"),
      None, None, Nil, Nil, conf)
    val o1 = tail.latestOffset().asInstanceOf[KVBinGenOffset]
    assert(o1.gen === 1L)
    val len1 = o1.json().length
    // ten appends: ten generations, twenty more regions
    for (i <- 1 to 10)
      parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
        .option("ranges", "2").mode("append").save()
    val o11 = tail.latestOffset().asInstanceOf[KVBinGenOffset]
    assert(o11.gen === 11L)
    assert(o11.tableId === o1.tableId)
    // the checkpoint write is the SAME size after 10 generations — the
    // name-set form over the same table would carry all 22 region names
    assert(o11.json().length <= len1 + 1,
      s"epoch offset grew: ${o1.json()} -> ${o11.json()}")
    val conf2 = spark.sessionState.newHadoopConf()
    val nameSet = KVBinStreamOffset(KVBin.readIndex(dir, conf2).map(_.id))
    assert(nameSet.json().length > 10 * o11.json().length,
      s"name-set offset should dwarf the epoch form: " +
      s"${nameSet.json().length} vs ${o11.json().length}")
    // and the batch between the two epochs plans exactly the regions
    // born in generations 2..11, none from the base generation
    val expectedDue = KVBin
      .regionGenerations(KVBin.readMeta(dir, conf2)).count(_._2 > 1L)
    assert(expectedDue >= 10)
    assert(regionsOpened(tail.planInputPartitions(o1, o11)) === expectedDue)
  }

  test("micro-batch planning emits only NEW regions; key range prunes per batch") {
    import graft.sources.kvbin.{KVBinMicroBatchStream, KVBinStreamOffset}
    import org.apache.spark.util.SerializableConfiguration
    val dir = java.nio.file.Files.createTempDirectory("kvbin-s-").toString
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    def write(hi: Boolean, mode: String): Unit =
      parquetSrc.filter(if (hi) col("key") >= lit("li_0000000500").cast("binary")
                        else col("key") < lit("li_0000000500").cast("binary"))
        .write.format(kvbinFmt).option("path", dir).option("ranges", "3")
        .mode(mode).save()
    write(hi = false, "overwrite")
    def stream(start: Array[Byte], end: Array[Byte]) = new KVBinMicroBatchStream(
      dir, start, end, null,
      new org.apache.spark.sql.types.StructType()
        .add("key", "binary").add("value", "binary"),
      None, None, Nil, Nil, conf)
    val tail = stream(null, null)
    val o0 = tail.initialOffset()
    val o1 = tail.latestOffset()
    val b1 = tail.planInputPartitions(
      o0, o1)
    assert(regionsOpened(b1) === 3,
      s"base generation should plan its 3 regions, got ${regionsOpened(b1)}")
    // nothing new → empty batch, not a re-read
    val o1b = tail.latestOffset()
    assert(tail.planInputPartitions(o1,
      o1b).isEmpty)
    write(hi = true, "append")
    val o2 = tail.latestOffset()
    val b2 = tail.planInputPartitions(
      o1, o2)
    assert(regionsOpened(b2) === 3,
      s"append batch must contain ONLY the 3 new regions, got ${regionsOpened(b2)}")
    // a pushed key range prunes the appended batch's regions exactly like
    // the batch scan: the low half's range matches none of the new regions
    val pruned = stream("li_0000000000".getBytes("UTF-8"),
        "li_0000000100".getBytes("UTF-8"))
      .planInputPartitions(
        o1, o2)
    assert(pruned.isEmpty,
      s"key range below the appended regions must prune all, got ${pruned.length}")
  }

  test("scope options bound the STREAMING tail at the source (no streaming pushdown in Spark)") {
    // Spark's V2ScanRelationPushDown does not visit micro-batch
    // relations: a readStream .filter stays Spark-side and every batch
    // inputs the whole table (measured before adding the options).
    // start_key_hex/end_key_hex give the tail the same source-side
    // region pruning + in-reader scoping the batch path gets from
    // pushed filters.
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("kvbin-sc-").toString
    parquetSrc.write.format(kvbinFmt).option("path", dir)
      .option("ranges", "6").mode("overwrite").save()
    val lo = "li_0000000001".getBytes("UTF-8")
    val hi = "li_0000000050".getBytes("UTF-8")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val q = spark.readStream.format(kvbinFmt).option("path", dir)
      .option("start_key_hex", KVBin.hexOf(lo))
      .option("end_key_hex", KVBin.hexOf(hi))
      .load()
      .writeStream.format("memory").queryName("kvbin_scoped_tail")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val expected = KVSnapshot.rangeFilter(binSrc, lo, hi)
      .select(col("key").cast("string")).as[String].collect().sorted.toSeq
    val got = spark.table("kvbin_scoped_tail")
      .select(col("key").cast("string")).as[String].collect().sorted.toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // the scope was applied AT THE SOURCE: the micro-batch read exactly
    // the scoped rows, not the full table
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    assert(inputRows === expected.size.toLong,
      s"tail read $inputRows rows for a ${expected.size}-row scope — " +
      "the range did not reach the source")
    spark.catalog.dropTempView("kvbin_scoped_tail")
    // the same options scope a BATCH read too (pushed filters tighten)
    assert(spark.read.format(kvbinFmt).option("path", dir)
      .option("start_key_hex", KVBin.hexOf(lo))
      .option("end_key_hex", KVBin.hexOf(hi)).load().count()
      === expected.size.toLong)
  }

  test("the streaming tail runs over the wire: a socket-served append becomes a micro-batch") {
    // the live-cluster shape end-to-end: the tail polls REGIONS over
    // the loopback socket, the server's fingerprint-guarded index cache
    // serves the CURRENT region set, and regions appended AFTER the
    // server started arrive as their own micro-batch — every region
    // byte flowing through SCAN, none through the filesystem
    import graft.sources.kvbin.KVBinServer
    val dir = java.nio.file.Files.createTempDirectory("kvbin-nt-").toString
    def write(hi: Boolean, mode: String): Unit =
      parquetSrc.filter(if (hi) col("key") >= lit("li_0000000500").cast("binary")
                        else col("key") < lit("li_0000000500").cast("binary"))
        .write.format(kvbinFmt).option("path", dir).option("ranges", "2")
        .mode(mode).save()
    write(hi = false, "overwrite")
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val q = spark.readStream.format(kvbinFmt).option("path", dir)
        .option("endpoints", server.address).load()
        .select(col("key").cast("string").as("key"))
        .writeStream.format("memory").queryName("kvbin_wire_tail")
        .outputMode("append").start()
      try {
        q.processAllAvailable()          // batch 1: base generation
        write(hi = true, "append")       // lands while the server runs
        q.processAllAvailable()          // batch 2: the appended regions
      } finally q.stop()
      val got = spark.table("kvbin_wire_tail")
        .select("key").as[String].collect().sorted.toSeq
      val expected = parquetSrc.select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      assert(got === expected,
        "socket-served tail must drain base + appended generations")
      // every region streamed exactly once, over the wire
      assert(server.scanRequests.get() === 4L,
        s"expected 4 SCANs (2 regions × 2 generations), got ${server.scanRequests.get()}")
      spark.catalog.dropTempView("kvbin_wire_tail")
    } finally server.close()
  }

  test("the streaming tail unions a two-store FLEET: per-owner scans, appends visible to both") {
    // the multi-endpoint shape made continuous: each poll unions both
    // stores' REGIONS answers, each region streams from its OWNER, and
    // an append committed mid-tail reaches the next batch through both
    // servers' fingerprint-guarded caches
    import graft.sources.kvbin.KVBinServer
    val dir = java.nio.file.Files.createTempDirectory("kvbin-ft-").toString
    def write(hi: Boolean, mode: String): Unit =
      parquetSrc.filter(if (hi) col("key") >= lit("li_0000000500").cast("binary")
                        else col("key") < lit("li_0000000500").cast("binary"))
        .write.format(kvbinFmt).option("path", dir).option("ranges", "2")
        .mode(mode).save()
    write(hi = false, "overwrite")
    // DSv2 region names carry the full job-tag hex — parity by hashCode
    def parity(id: String) = id.hashCode & 1
    val conf = spark.sessionState.newHadoopConf()
    val even = new KVBinServer(dir, conf, parity(_) == 0)
    val odd = new KVBinServer(dir, conf, parity(_) == 1)
    try {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val q = spark.readStream.format(kvbinFmt).option("path", dir)
        .option("endpoints", s"${even.address},${odd.address}").load()
        .select(col("key").cast("string").as("key"))
        .writeStream.format("memory").queryName("kvbin_fleet_tail")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        write(hi = true, "append")
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("kvbin_fleet_tail")
        .select("key").as[String].collect().sorted.toSeq
      val expected = parquetSrc.select(col("key").cast("string"))
        .as[String].collect().sorted.toSeq
      assert(got === expected, "fleet tail must drain both generations once")
      // every region streamed from its owner exactly once
      val regions = KVBin.readIndex(dir, conf).map(_.id)
      assert(even.scanRequests.get() === regions.count(parity(_) == 0).toLong)
      assert(odd.scanRequests.get() === regions.count(parity(_) == 1).toLong)
      spark.catalog.dropTempView("kvbin_fleet_tail")
    } finally { even.close(); odd.close() }
  }

  test("streaming tail restarts from the checkpointed offset: the base generation is not re-emitted") {
    // the production restart path: offsets serialize into the
    // checkpoint (deserializeOffset), a NEW query instance resumes
    // from them, and regions appended while the stream was DOWN arrive
    // as the first batch of the restarted run — exactly once, through
    // the file sink's manifest
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("kvbin-r-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kvbin-r-ck-").toString
    val out = java.nio.file.Files.createTempDirectory("kvbin-r-out-").toString
    def write(hi: Boolean, mode: String): Unit =
      parquetSrc.filter(if (hi) col("key") >= lit("li_0000000500").cast("binary")
                        else col("key") < lit("li_0000000500").cast("binary"))
        .write.format(kvbinFmt).option("path", dir).option("ranges", "2")
        .mode(mode).save()
    def runOnce(): Unit = {
      val q = spark.readStream.format(kvbinFmt).option("path", dir).load()
        .select(col("key").cast("string").as("key"),
          col("value").cast("string").as("value"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    write(hi = false, "overwrite")
    runOnce()                    // run 1 drains the base generation, stops
    write(hi = true, "append")   // append lands while the stream is DOWN
    runOnce()                    // run 2 resumes from the checkpoint
    val got = spark.read.parquet(out)
      .select(col("key")).as[String].collect().sorted.toSeq
    val expected = parquetSrc
      .select(col("key").cast("string")).as[String].collect().sorted.toSeq
    assert(got === expected,
      "restarted tail must emit base + appended rows exactly once")
    // a compaction of FULLY-DRAINED generations while the stream is
    // DOWN is adopted on restart: the checkpoint's epoch (gen 2) is ≥
    // compacted_through, the rewritten regions carry birth generation 2
    // (already emitted), and only the post-compaction append is new —
    // exactly once, no re-emission of the rewritten rows
    graft.sources.kvbin.KVBinCompact.compact(spark, dir, targetRegions = 1)
    parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
      .mode("append").save() // new data: the restart has one batch to plan
    runOnce()                    // run 3 adopts the compaction
    val got3 = spark.read.parquet(out)
      .select(col("key")).as[String].collect().sorted.toSeq
    val expected3 = (expected ++ parquetSrc.limit(5)
      .select(col("key").cast("string")).as[String].collect()).sorted
    assert(got3 === expected3,
      "restart over a fully-drained compaction must emit ONLY the new append")
    // a PLAIN overwrite while the stream is down is a NEW table (fresh
    // table_id): the restarted run must die loudly, not silently
    // continue the old checkpoint over unrelated data
    parquetSrc.limit(7).write.format(kvbinFmt).option("path", dir)
      .mode("overwrite").save()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(kvbinFmt).option("path", dir).load()
        .select(col("key").cast("string").as("key"),
          col("value").cast("string").as("value"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(chain(e).exists(_.contains("overwritten while the stream was down")),
      chain(e).mkString(" | "))
  }

  test("a compaction folding UNDRAINED generations refuses on restart; drained ones adopt") {
    import graft.sources.kvbin.{KVBinGenOffset, KVBinMicroBatchStream}
    import org.apache.spark.util.SerializableConfiguration
    val dir = java.nio.file.Files.createTempDirectory("kvbin-cu-").toString
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    parquetSrc.limit(100).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "4").mode("overwrite").save()
    parquetSrc.limit(30).write.format(kvbinFmt).option("path", dir)
      .mode("append").save() // generation 2
    def stream() = new KVBinMicroBatchStream(dir, null, null, null,
      new org.apache.spark.sql.types.StructType()
        .add("key", "binary").add("value", "binary"),
      None, None, Nil, Nil, conf)
    val tid = stream().latestOffset().asInstanceOf[KVBinGenOffset].tableId
    graft.sources.kvbin.KVBinCompact.compact(spark, dir, targetRegions = 2)
    // checkpoint drained only generation 1 → the compaction (through
    // gen 2) folded rows this tail never emitted into regions it would
    // skip — refuse loudly
    val undrained = intercept[IllegalStateException] {
      stream().planInputPartitions(
        KVBinGenOffset(tid, 1L), KVBinGenOffset(tid, 2L))
    }
    assert(undrained.getMessage.contains("compacted through"),
      undrained.getMessage)
    // checkpoint drained generation 2 (everything) → the rewrite is
    // invisible: empty due set, no error, offset unchanged
    assert(stream().planInputPartitions(
      KVBinGenOffset(tid, 2L), KVBinGenOffset(tid, 2L)).isEmpty)
    // and the post-compaction poll reports the SAME epoch — compaction
    // moved no watermark (content-identical rewrite)
    assert(stream().latestOffset() === KVBinGenOffset(tid, 2L))
  }

  test("stamped tail ADOPTS a drained mid-tail compaction; version gate and legacy append-only watchdog still refuse") {
    import graft.sources.kvbin.{KVBinGenOffset, KVBinMicroBatchStream, KVBinStreamOffset}
    import org.apache.spark.util.SerializableConfiguration
    val dir = java.nio.file.Files.createTempDirectory("kvbin-w-").toString
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    parquetSrc.limit(200).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "4").mode("overwrite").save()
    def stream(d: String) = new KVBinMicroBatchStream(d, null, null, null,
      new org.apache.spark.sql.types.StructType()
        .add("key", "binary").add("value", "binary"),
      None, None, Nil, Nil, conf)
    val tail = stream(dir)
    val o1 = tail.latestOffset()
    assert(regionsOpened(tail.planInputPartitions(tail.initialOffset(), o1)) === 4)
    // compaction of the fully-drained generation MID-TAIL: the epoch is
    // unchanged (content-identical rewrite), the next poll succeeds, and
    // the batch between the epochs is empty — no re-emission, no refusal
    graft.sources.kvbin.KVBinCompact.compact(spark, dir, targetRegions = 1)
    val o2 = tail.latestOffset()
    assert(o2 === o1, "a content-identical compaction must not move the epoch")
    assert(tail.planInputPartitions(o1, o2).isEmpty)
    // and the tail keeps going: a post-compaction append is the next batch
    parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
      .mode("append").save()
    val o3 = tail.latestOffset()
    assert(o3.asInstanceOf[KVBinGenOffset].gen ===
      o1.asInstanceOf[KVBinGenOffset].gen + 1)
    assert(tail.planInputPartitions(o2, o3).nonEmpty)
    // a fresh tail with a version expectation against a V1 table dies on
    // the FIRST poll — the gate runs per poll, not once at plan time
    val gated = new KVBinMicroBatchStream(dir, null, null, null,
      new org.apache.spark.sql.types.StructType()
        .add("key", "binary").add("value", "binary"),
      Some("V2"), None, Nil, Nil, conf)
    val g = intercept[IllegalStateException](gated.latestOffset())
    assert(g.getMessage.contains("api version mismatch"))
    // LEGACY (unstamped) table: the strict name-set append-only watchdog
    // survives for tables written before the generation stamp existed
    val dir2 = java.nio.file.Files.createTempDirectory("kvbin-w2-").toString
    parquetSrc.limit(50).write.format(kvbinFmt).option("path", dir2)
      .option("ranges", "2").mode("overwrite").save()
    stripStamps(dir2)
    val ltail = stream(dir2)
    val lo = ltail.latestOffset()
    assert(lo.isInstanceOf[KVBinStreamOffset],
      "an unstamped table must tail on the name-set offset")
    // the table is rewritten under the tail (names vanish, still unstamped)
    parquetSrc.limit(10).write.format(kvbinFmt).option("path", dir2)
      .option("ranges", "1").mode("overwrite").save()
    stripStamps(dir2)
    val e = intercept[IllegalStateException](ltail.latestOffset())
    assert(e.getMessage.contains("append-only"),
      s"rewrite under a legacy tail must fail loudly, got: ${e.getMessage}")
    // a legacy tail whose table gets STAMPED under it (e.g. by a
    // compaction, which stamps) also refuses — name sets and epochs
    // cannot be reconciled mid-stream
    val dir3 = java.nio.file.Files.createTempDirectory("kvbin-w3-").toString
    parquetSrc.limit(50).write.format(kvbinFmt).option("path", dir3)
      .option("ranges", "2").mode("overwrite").save()
    stripStamps(dir3)
    val ltail3 = stream(dir3)
    ltail3.latestOffset()
    graft.sources.kvbin.KVBinCompact.compact(spark, dir3, targetRegions = 1)
    val e3 = intercept[IllegalStateException](ltail3.latestOffset())
    assert(e3.getMessage.contains("generation-stamped"), e3.getMessage)
  }

  test("a RUNNING tail adopts a drained defer-sweep compaction and keeps consuming appends") {
    // the long-lived-monitor shape end-to-end: drain the base
    // generation LIVE, compact mid-stream (defer_sweep leaves the old
    // files for any in-flight batch), keep polling across the rewrite
    // (same epoch → empty batches, no watchdog kill), then an append
    // arrives as the next micro-batch — exactly once, no re-emission
    // of the rewritten rows
    val dir = java.nio.file.Files.createTempDirectory("kvbin-lc-").toString
    def write(hi: Boolean, mode: String): Unit =
      parquetSrc.filter(if (hi) col("key") >= lit("li_0000000500").cast("binary")
                        else col("key") < lit("li_0000000500").cast("binary"))
        .write.format(kvbinFmt).option("path", dir).option("ranges", "3")
        .mode(mode).save()
    write(hi = false, "overwrite")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val q = spark.readStream.format(kvbinFmt).option("path", dir).load()
      .select(col("key").cast("string").as("key"))
      .writeStream.format("memory").queryName("kvbin_live_compact")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: the base generation
      graft.sources.kvbin.KVBinCompact.compact(spark, dir,
        targetRegions = 1, deferSweep = true)
      q.processAllAvailable() // post-compaction poll: adopted, empty
      assert(q.exception.isEmpty,
        s"tail died on a drained compaction: ${q.exception}")
      write(hi = true, "append")
      q.processAllAvailable() // batch 2: the appended generation only
      assert(q.exception.isEmpty, s"tail died on the post-compaction append: ${q.exception}")
    } finally q.stop()
    val got = spark.table("kvbin_live_compact")
      .select("key").as[String].collect().sorted.toSeq
    val expected = parquetSrc.select(col("key").cast("string"))
      .as[String].collect().sorted.toSeq
    assert(got === expected,
      "live tail must emit base + appended rows exactly once across the compaction")
    spark.catalog.dropTempView("kvbin_live_compact")
  }

  test("poll path is O(1): scalar headers precede gen.* lists, readPollMeta stops early, POLL verb ships scalars only") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val dir = java.nio.file.Files.createTempDirectory("kvbin-pm-").toString
    val conf = spark.sessionState.newHadoopConf()
    parquetSrc.limit(50).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "2").mode("overwrite").save()
    parquetSrc.limit(10).write.format(kvbinFmt).option("path", dir)
      .mode("append").save()
    // writer order: every scalar header line comes before every #gen. line
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile))
    val headers = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().takeWhile(_.startsWith("#")).toList finally in.close()
    val firstGen = headers.indexWhere(_.startsWith("#gen."))
    assert(firstGen > 0, headers.mkString("|"))
    assert(headers.take(firstGen).forall(!_.startsWith("#gen.")))
    assert(headers.drop(firstGen).forall(_.startsWith("#gen.")),
      s"scalar header after a gen.* line: ${headers.mkString("|")}")
    // readPollMeta returns the scalars (and NOT the gen.* lists)
    val pm = KVBin.readPollMeta(dir, conf)
    assert(pm.get("generation") === Some("2"))
    assert(pm.contains("table_id") && pm("api_version") === "V1")
    assert(!pm.keys.exists(_.startsWith("gen.")))
    // an index in the LEGACY alphabetical order (gen.* before
    // generation) falls back to the full read — order is a cost
    // optimization, never a correctness dependency
    val full = KVBin.readMeta(dir, conf)
    val legacyLines = full.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" } ++
      KVBin.readIndex(dir, conf).map(r => Seq(r.id, KVBin.hexOf(r.minKey),
        KVBin.hexOf(r.maxKey), r.nKeys.toString).mkString("\t"))
    KVBin.writeIndexAtomic(dir, conf, legacyLines.mkString("\n"))
    val pmLegacy = KVBin.readPollMeta(dir, conf)
    assert(pmLegacy.get("generation") === Some("2"),
      "legacy header order must fall back to the full meta read")
    // the POLL wire verb: scalars only, gen.* never crosses the wire
    val server = new KVBinServer(dir, conf)
    try {
      val c = new SocketRegionClient(server.address)
      val wirePoll = c.pollMeta()
      assert(wirePoll.get("generation") === Some("2"))
      assert(!wirePoll.keys.exists(_.startsWith("gen.")))
      assert(c.clusterMeta().keys.exists(_.startsWith("gen.")),
        "META must still carry the full bookkeeping")
    } finally server.close()
  }

  test("meta.* writer options: user header committed atomically with the rows, overwritten per commit, reserved keys refused") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-um-").toString
    val conf = spark.sessionState.newHadoopConf()
    parquetSrc.limit(10).write.format(kvbinFmt).option("path", dir)
      .option("meta.replica_batch", "0").mode("overwrite").save()
    assert(KVBin.readMeta(dir, conf).get("replica_batch") === Some("0"))
    // the next commit's value REPLACES the previous one (the progress-
    // marker contract: marker and rows ride the same index swap)
    parquetSrc.limit(3).write.format(kvbinFmt).option("path", dir)
      .option("meta.replica_batch", "1").mode("append").save()
    val m = KVBin.readMeta(dir, conf)
    assert(m.get("replica_batch") === Some("1"))
    assert(m.get("generation") === Some("2"), "generation bookkeeping intact")
    // reserved bookkeeping keys cannot be forged through the option
    for (bad <- Seq("generation", "table_id", "gen.3", "stats", "api_version")) {
      val e = intercept[Exception] {
        parquetSrc.limit(1).write.format(kvbinFmt).option("path", dir)
          .option(s"meta.$bad", "forged").mode("append").save()
      }
      assert(e.getMessage != null && e.getMessage.contains("reserved"),
        s"$bad: ${e.getMessage}")
    }
  }

  test("defer_sweep compaction: old generation survives one commit for in-flight readers, invisible to planning, reclaimed next commit") {
    val dir = java.nio.file.Files.createTempDirectory("kvbin-ds-").toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    def kvFiles(): Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.endsWith(".kv")).toSet
    parquetSrc.limit(40).write.format(kvbinFmt).option("path", dir)
      .option("ranges", "4").mode("overwrite").save()
    val oldGen = kvFiles()
    assert(oldGen.size === 4)
    // a running tail's micro-batch may be EXECUTING against the old
    // generation when the compaction commits: defer_sweep leaves those
    // files readable through this commit instead of failing the tasks
    graft.sources.kvbin.KVBinCompact.compact(spark, dir,
      targetRegions = 1, deferSweep = true)
    val afterCompact = kvFiles()
    assert(oldGen.subsetOf(afterCompact),
      "deferred sweep must leave the old generation on disk")
    // ...but planning reads ONLY the new index: no double rows
    assert(KVBin.readIndex(dir, conf).size === 1)
    assert(spark.read.format(kvbinFmt).option("path", dir).load().count() === 40L)
    // the NEXT commit reclaims the old generation as orphans (the same
    // sweep contract the crash-recovery spec pins)
    parquetSrc.limit(5).write.format(kvbinFmt).option("path", dir)
      .mode("append").save()
    val afterNext = kvFiles()
    assert(oldGen.forall(f => !afterNext.contains(f)),
      s"orphaned old generation survived the next commit: ${afterNext & oldGen}")
    assert(spark.read.format(kvbinFmt).option("path", dir).load().count() === 45L)
  }

  test("POLL absent marker: an endpoints read of a missing table fails at PLANNING naming the table; writes keep the fresh-target contract") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val dir = java.nio.file.Files.createTempDirectory("kvbin-ab-").toString
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    try {
      // the marker rides POLL (and META) while no _index exists
      val meta = new SocketRegionClient(server.address).pollMeta()
      assert(meta.get("absent").contains(dir), meta.toString)
      // a READ fails at planning — before any job, with the table named
      // (previously: a phantom 2-column schema that died at read time)
      val e = intercept[Exception] {
        spark.read.format(kvbinFmt).option("endpoints", server.address)
          .load().count()
      }
      assert(e.getMessage.contains(dir) &&
        e.getMessage.contains("no table exists"), e.getMessage)
      // a WRITE to the same fresh target still plans and lands (the
      // absent marker means "fresh", not "error", on the write side)…
      parquetSrc.limit(10).write.format(kvbinFmt)
        .option("endpoints", server.address).mode("append").save()
      // …and once the table exists the marker is gone and reads work
      val back = spark.read.format(kvbinFmt)
        .option("endpoints", server.address).load()
      assert(back.count() === 10L)
      assert(!new SocketRegionClient(server.address).pollMeta()
        .contains("absent"))
    } finally server.close()
  }

  test("PUT hardening: a referenced name is refused before truncation; a negative vlen frame never acks") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val dir = java.nio.file.Files.createTempDirectory("kvbin-ph-").toString
    val conf = spark.sessionState.newHadoopConf()
    val server = new KVBinServer(dir, conf)
    try {
      parquetSrc.limit(20).write.format(kvbinFmt)
        .option("endpoints", server.address)
        .option("ranges", "1").mode("overwrite").save()
      val committed = KVBin.readIndex(dir, conf).map(_.id)
      assert(committed.size === 1)
      val live = committed.head
      val crcBefore = Checksum.of(spark.read.format(kvbinFmt)
        .option("endpoints", server.address).load())
        .as[(Long, Long, Long)].head()
      def rawPut(name: String)(frames: java.io.DataOutputStream => Unit): Int = {
        val Array(host, port) = server.address.split(":", 2)
        val sock = new java.net.Socket(host, port.toInt)
        try {
          sock.setSoTimeout(10000)
          val out = new java.io.DataOutputStream(sock.getOutputStream)
          out.write(s"PUT $name\n".getBytes("UTF-8"))
          frames(out)
          out.flush()
          sock.getInputStream.read() // ack byte, or -1 on server abort
        } finally sock.close()
      }
      // the lost-ack twin of ABORT's guard: a PUT naming the LIVE
      // committed region is refused (byte 0) — fs.create(overwrite)
      // would have truncated it before any commit guard could run
      val refused = rawPut(live) { out => out.writeInt(-1) }
      assert(refused === 0, s"PUT of referenced $live must answer byte 0")
      val crcAfterRefusal = Checksum.of(spark.read.format(kvbinFmt)
        .option("endpoints", server.address).load())
        .as[(Long, Long, Long)].head()
      assert(crcAfterRefusal === crcBefore, "live region was damaged")
      // a malformed frame (negative vlen, which is NOT a terminator)
      // kills the serve thread WITHOUT an ack and the partial attempt
      // file is reclaimed — the corruption can never be committed
      val ack = rawPut("part-00007-deadbeef-9.kv") { out =>
        out.writeInt(1); out.write("k".getBytes("UTF-8"))
        out.writeInt(-5)
      }
      assert(ack === -1, s"malformed PUT must not ack, got $ack")
      val f = new java.io.File(dir, "part-00007-deadbeef-9.kv")
      val deadline = System.nanoTime() + 5000000000L
      while (f.exists() && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!f.exists(), "malformed attempt file must be reclaimed")
    } finally server.close()
  }

  test("PUT guard survives a same-length same-mtime index swap (stale-cache window): absent name forces a fresh index read") {
    // the r15 advisory's residual window: the guard served referenced
    // names from the (len, mtime)-fingerprinted cache, so an index
    // rewrite preserving byte length within one mtime tick (a
    // compaction swap on a coarse-mtime filesystem) served a stale set
    // and let a PUT truncate a just-committed region. Now a cache MISS
    // on the PUT name triggers one fresh index read before fs.create.
    import graft.sources.kvbin.KVBinServer
    val dir = java.nio.file.Files.createTempDirectory("kvbin-stale-").toString
    val conf = spark.sessionState.newHadoopConf()
    val server = new KVBinServer(dir, conf)
    try {
      parquetSrc.limit(20).write.format(kvbinFmt)
        .option("endpoints", server.address)
        .option("ranges", "1").mode("overwrite").save()
      // populate the server's index cache (any cached verb)
      spark.read.format(kvbinFmt).option("endpoints", server.address)
        .load().count()
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
      val idxPath = new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile)
      val mtime0 = fs.getFileStatus(idxPath).getModificationTime
      val oldName = KVBin.readIndex(dir, conf).map(_.id).head
      // same-length rename: flip the character before ".kv" (keeps the
      // RegionFile shape so the PUT reaches the guard, not the
      // foreign-name refusal)
      val i = oldName.lastIndexOf(".kv") - 1
      val newName = oldName.updated(i, if (oldName(i) == '0') '1' else '0')
      assert(newName.length === oldName.length && newName != oldName)
      fs.rename(new org.apache.hadoop.fs.Path(dir, oldName),
        new org.apache.hadoop.fs.Path(dir, newName))
      val in = fs.open(idxPath)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString finally in.close()
      KVBin.writeIndexAtomic(dir, conf, content.replace(oldName, newName))
      // pin the swapped index to the ORIGINAL (len, mtime) fingerprint
      fs.setTimes(idxPath, mtime0, -1)
      assert(fs.getFileStatus(idxPath).getLen === content.length.toLong &&
          fs.getFileStatus(idxPath).getModificationTime === mtime0,
        "setup must reproduce an identical fingerprint")
      // PUT naming the NEW region: absent from the (stale) cached set —
      // the fresh-read fallback must find it referenced and refuse
      val Array(host, port) = server.address.split(":", 2)
      val sock = new java.net.Socket(host, port.toInt)
      val ack = try {
        sock.setSoTimeout(10000)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        out.write(s"PUT $newName\n".getBytes("UTF-8"))
        out.writeInt(-1); out.flush()
        sock.getInputStream.read()
      } finally sock.close()
      assert(ack === 0, s"PUT of the just-committed $newName must be refused")
      assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, newName))
          .getLen > 0, "the committed region must not have been truncated")
    } finally server.close()
  }

  test("sharded fleet: SKEWED appends keep generation lockstep and the gen-offset tail never misses a lagging store's commits") {
    // the r14 advisory's fleet-divergence hazard: appends that route to
    // ONE store used to bump only that store's counter, and the merged
    // (then max-based) watermark made the OTHER store's later commits
    // land at birth generations below the already-drained offset —
    // silently never emitted. Now a data-carrying fleet append bumps
    // EVERY member (force_gen_bump) and the merged watermark is the
    // MIN, so each skewed wave below must reach the tail.
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val conf = spark.sessionState.newHadoopConf()
    val dirA = java.nio.file.Files.createTempDirectory("kvbin-skw-a-").toString
    val dirB = java.nio.file.Files.createTempDirectory("kvbin-skw-b-").toString
    val split = "li_0000000300".getBytes("UTF-8")
    val a = new KVBinServer(dirA, conf,
      ownsRange = Some((Array.emptyByteArray, split)))
    val b = new KVBinServer(dirB, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    try {
      val eps = s"${a.address},${b.address}"
      def gen(addr: String) =
        new SocketRegionClient(addr).pollMeta()("generation")
      def kv(rows: (String, String)*) = rows.toSeq.toDF("k", "v")
        .select(col("k").cast("binary").as("key"),
          col("v").cast("binary").as("value"))
      kv("li_0000000100" -> "a1", "li_0000000900" -> "b1")
        .write.format(kvbinFmt).option("endpoints", eps)
        .option("api_version", "V1").mode("overwrite").save()
      assert(gen(a.address) === "1" && gen(b.address) === "1")
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val q = spark.readStream.format(kvbinFmt).option("endpoints", eps)
        .load().select(col("key").cast("string").as("key"))
        .writeStream.format("memory").queryName("kvbin_skew_tail")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // wave 1: A's range only — B still bumps (forced, no file list)
        kv("li_0000000101" -> "a2").write.format(kvbinFmt)
          .option("endpoints", eps).mode("append").save()
        assert(gen(a.address) === "2" && gen(b.address) === "2",
          "a skewed fleet append must bump EVERY member's generation")
        q.processAllAvailable()
        // wave 2: B's range only — the lagging-store scenario the old
        // max-watermark silently dropped
        kv("li_0000000901" -> "b2").write.format(kvbinFmt)
          .option("endpoints", eps).mode("append").save()
        assert(gen(a.address) === "3" && gen(b.address) === "3")
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("kvbin_skew_tail")
        .select("key").as[String].collect().sorted.toSeq
      assert(got === Seq("li_0000000100", "li_0000000101",
        "li_0000000900", "li_0000000901"),
        s"tail missed a skewed wave: got $got")
      spark.catalog.dropTempView("kvbin_skew_tail")
    } finally { a.close(); b.close() }
  }

  test("fleet append refuses a FRESH member mixed into a live fleet, naming the rebuild remedy") {
    // a member joining mid-life would be stamped at generation 1 while
    // the rest sit higher — lockstep equality (and with it the min
    // watermark's liveness) could never be reached by appending
    import graft.sources.kvbin.KVBinServer
    val conf = spark.sessionState.newHadoopConf()
    val m1 = "li_0000000300".getBytes("UTF-8")
    val m2 = "li_0000000600".getBytes("UTF-8")
    val a = new KVBinServer(
      java.nio.file.Files.createTempDirectory("kvbin-fm-a-").toString, conf,
      ownsRange = Some((Array.emptyByteArray, m1)))
    val b = new KVBinServer(
      java.nio.file.Files.createTempDirectory("kvbin-fm-b-").toString, conf,
      ownsRange = Some((m1, m2)))
    val c = new KVBinServer(
      java.nio.file.Files.createTempDirectory("kvbin-fm-c-").toString, conf,
      ownsRange = Some((m2, Array.emptyByteArray)))
    try {
      val low = parquetSrc.filter(col("key") < lit(m2))
      low.write.format(kvbinFmt).option("endpoints", s"${a.address},${b.address}")
        .option("api_version", "V1").mode("overwrite").save()
      val refused = intercept[Exception] {
        low.write.format(kvbinFmt)
          .option("endpoints", s"${a.address},${b.address},${c.address}")
          .mode("append").save()
      }
      def messages(e: Throwable): Seq[String] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .flatMap(t => Option(t.getMessage)).toSeq
      // two gates can fire, both loud: table RESOLUTION's consistency
      // check sees the fresh member answer no api_version (the absent
      // marker dropped because live stores carry an index), or — were a
      // path to reach write planning — the fleet gate's explicit
      // fresh-member refusal naming the rebuild remedy
      assert(messages(refused).exists(m =>
        m.contains("endpoints disagree on api_version") ||
          (m.contains("FRESH") && m.contains("truncate the fleet"))),
        s"expected a loud mixed-fleet refusal: $refused")
    } finally { a.close(); b.close(); c.close() }
  }

  test("fleet 2PC convergence: a store refusing its COMMIT leaves a torn fleet that a re-run with the same commit_key converges") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val conf = spark.sessionState.newHadoopConf()
    val dirA = java.nio.file.Files.createTempDirectory("kvbin-2pc-a-").toString
    val dirB = java.nio.file.Files.createTempDirectory("kvbin-2pc-b-").toString
    val split = "li_0000000300".getBytes("UTF-8")
    val a = new KVBinServer(dirA, conf,
      ownsRange = Some((Array.emptyByteArray, split)))
    val b = new KVBinServer(dirB, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    try {
      val eps = s"${a.address},${b.address}"
      def gen(addr: String) =
        new SocketRegionClient(addr).pollMeta()("generation").toLong
      parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
        .option("ranges", "2").option("api_version", "V1")
        .mode("overwrite").save()
      val want = Checksum.of(parquetSrc).as[(Long, Long, Long)].head()
      // attempt 1: B refuses its COMMIT after A committed — the fleet
      // is torn exactly between the two per-store COMMIT phases
      b.refuseCommits.set(true)
      val torn = intercept[Exception] {
        parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
          .option("commit_key", "retry-k1").mode("append").save()
      }
      def messages(e: Throwable): Seq[String] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .flatMap(t => Option(t.getMessage)).toSeq
      assert(messages(torn).exists(_.contains("commit_key")),
        s"the partial-commit failure must name the convergence remedy: $torn")
      assert(gen(a.address) === 2L && gen(b.address) === 1L,
        "expected the torn state: A committed, B did not")
      // a DIFFERENT logical write onto the torn fleet refuses loudly
      val refused = intercept[Exception] {
        parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
          .mode("append").save()
      }
      assert(messages(refused).exists(_.contains("DIVERGE")),
        s"a torn fleet must refuse unrelated appends: $refused")
      // the retry: same commit_key, same data — A is ADOPTED by its
      // fleet_job stamp (no second COMMIT lands there), B commits
      b.refuseCommits.set(false)
      val commitsOnA = a.commitRequests.get()
      parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
        .option("commit_key", "retry-k1").mode("append").save()
      assert(a.commitRequests.get() === commitsOnA,
        "the adopted store must not receive a second COMMIT")
      assert(gen(a.address) === 2L && gen(b.address) === 2L,
        "the retry must converge the fleet's generations")
      val got = Checksum.of(spark.read.format(kvbinFmt)
        .option("endpoints", eps).load()).as[(Long, Long, Long)].head()
      assert(got._2 === 2 * want._2,
        "converged fleet must hold base + exactly one appended copy")
      // the adopted store's re-PUT attempt files were reclaimed: every
      // .kv file on A is index-referenced (poll: serve threads async)
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dirA), conf)
      def stray() = {
        val referenced = KVBin.readIndex(dirA, conf).map(_.id).toSet
        fs.listStatus(new org.apache.hadoop.fs.Path(dirA))
          .map(_.getPath.getName)
          .filter(f => f.endsWith(".kv") && !referenced(f)).toSeq
      }
      val deadline = System.nanoTime() + 10000000000L
      while (stray().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(stray().isEmpty,
        s"adopted store kept unreferenced attempt files: ${stray()}")
    } finally { a.close(); b.close() }
  }

  test("fleet adoption refuses a commit_key reused with DIFFERENT data (content fingerprint gate)") {
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val conf = spark.sessionState.newHadoopConf()
    val dirA = java.nio.file.Files.createTempDirectory("kvbin-fp-a-").toString
    val dirB = java.nio.file.Files.createTempDirectory("kvbin-fp-b-").toString
    val split = "li_0000000300".getBytes("UTF-8")
    val a = new KVBinServer(dirA, conf,
      ownsRange = Some((Array.emptyByteArray, split)))
    val b = new KVBinServer(dirB, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    try {
      val eps = s"${a.address},${b.address}"
      def gen(addr: String) =
        new SocketRegionClient(addr).pollMeta()("generation").toLong
      parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
        .option("ranges", "2").option("api_version", "V1")
        .mode("overwrite").save()
      // tear: A commits the k1 append, B refuses
      b.refuseCommits.set(true)
      intercept[Exception] {
        parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
          .option("commit_key", "fp-k1").mode("append").save()
      }
      assert(gen(a.address) === 2L && gen(b.address) === 1L)
      b.refuseCommits.set(false)
      // the buggy retry: SAME commit_key, DIFFERENT data — A's stamped
      // shard fingerprint cannot match, and the refusal must land
      // BEFORE any store commits (B stays at generation 1)
      def messages(e: Throwable): Seq[String] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .flatMap(t => Option(t.getMessage)).toSeq
      val refused = intercept[Exception] {
        parquetSrc.limit(10).write.format(kvbinFmt)
          .option("endpoints", eps)
          .option("commit_key", "fp-k1").mode("append").save()
      }
      assert(messages(refused).exists(m =>
          m.contains("fingerprint") && m.contains("DIFFERENT data")),
        s"expected the adoption fingerprint refusal: $refused")
      assert(gen(a.address) === 2L && gen(b.address) === 1L,
        "a refused adoption must commit NOTHING anywhere")
      // the honest retry (same data) still converges
      parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
        .option("commit_key", "fp-k1").mode("append").save()
      assert(gen(a.address) === 2L && gen(b.address) === 2L)
    } finally { a.close(); b.close() }
  }

  test("fleet append refuses a FRESH member beside an ADOPTED store even with no live member") {
    // the r15 advisory's vacuous-gate hazard: a torn 2-store write
    // whose lagging member was wiped and replaced before the
    // commit_key retry leaves a fleet that is all adopted + fresh —
    // the old live-members-only gate passed it, committing the fresh
    // store at generation 1 beside the adopted store at 2 (permanent
    // silent divergence). The gate must fire on ANY stamped member.
    import graft.sources.kvbin.{KVBinServer, SocketRegionClient}
    val conf = spark.sessionState.newHadoopConf()
    val dirA = java.nio.file.Files.createTempDirectory("kvbin-vac-a-").toString
    val dirB = java.nio.file.Files.createTempDirectory("kvbin-vac-b-").toString
    val dirB2 = java.nio.file.Files.createTempDirectory("kvbin-vac-b2-").toString
    val split = "li_0000000300".getBytes("UTF-8")
    val a = new KVBinServer(dirA, conf,
      ownsRange = Some((Array.emptyByteArray, split)))
    val b = new KVBinServer(dirB, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    // b2: the wiped replacement — same owned range, empty store
    val b2 = new KVBinServer(dirB2, conf,
      ownsRange = Some((split, Array.emptyByteArray)))
    try {
      val eps = s"${a.address},${b.address}"
      parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
        .option("ranges", "2").option("api_version", "V1")
        .mode("overwrite").save()
      b.refuseCommits.set(true)
      intercept[Exception] {
        parquetSrc.write.format(kvbinFmt).option("endpoints", eps)
          .option("commit_key", "vac-k1").mode("append").save()
      }
      def messages(e: Throwable): Seq[String] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .flatMap(t => Option(t.getMessage)).toSeq
      // retry against A (adopted, gen 2, stamped vac-k1) + B2 (fresh):
      // no live member at all — must still refuse. On the public path
      // the api_version equality probe fires first (a truly fresh
      // store carries no version), which is an acceptable refusal too;
      // either way nothing may commit.
      val refused = intercept[Exception] {
        parquetSrc.write.format(kvbinFmt)
          .option("endpoints", s"${a.address},${b2.address}")
          .option("commit_key", "vac-k1").mode("append").save()
      }
      assert(messages(refused).exists(m =>
          (m.contains("FRESH") && m.contains("stamped")) ||
          m.contains("disagree on api_version")),
        s"expected the mixed-fleet refusal with zero live members: $refused")
      val b2gen = new SocketRegionClient(b2.address).pollMeta()
      assert(!b2gen.contains("generation"),
        "the fresh replacement must not have been committed")
      // the generation-lockstep gate itself (defense in depth behind
      // the version probe): planning directly against adopted + fresh
      // with zero live members must refuse naming the FRESH member —
      // the pre-fix gate required a live member and passed vacuously
      val direct = intercept[IllegalStateException] {
        new graft.sources.kvbin.KVBinFleetWireBatchWrite(
          IndexedSeq(
            graft.sources.kvbin.KVBinFleet.Store(a.address,
              Array.emptyByteArray, split),
            graft.sources.kvbin.KVBinFleet.Store(b2.address,
              split, Array.emptyByteArray)),
          truncate = false, apiVersion = Some("V1"), preserveMeta = false,
          queryId = "vac-direct", stats = Nil, deferSweep = false,
          userMeta = Map("fleet_job" -> "vac-k1"))
      }
      assert(direct.getMessage.contains("FRESH") &&
          direct.getMessage.contains("stamped"),
        s"expected the lockstep gate's own refusal: ${direct.getMessage}")
    } finally { a.close(); b.close(); b2.close() }
  }

  /** Rewrite `dir/_index` without the generation bookkeeping — the
    * shape every table written BEFORE the `#generation=` stamp landed
    * has on disk; lets the legacy name-set offset path stay testable. */
  private def stripStamps(dir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val idx = new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile)
    val in = fs.open(idx)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val kept = lines.filterNot(l => l.startsWith("#generation=") ||
      l.startsWith("#table_id=") || l.startsWith("#gen.") ||
      l.startsWith("#compacted_through="))
    KVBin.writeIndexAtomic(dir, conf, kept.mkString("\n"))
  }
}
