package graft.sources.kvbin

import java.io.{BufferedInputStream, DataInputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** "Region"-file KV storage format backing the [[KVBinSource]] DSv2
  * connector — the engine-side analog of a TiKV cluster's
  * region-partitioned key space (reference `checksum/checksum.go:52-65`
  * builds per-region sub-ranges from PD metadata; here the `_index`
  * sidecar IS the region metadata: one line per file, one
  * [[RegionInfo]] each).
  *
  * Layout: `dir/part-*.kv` (names: [[KVBinDataWriter.RegionFile]]) —
  * length-prefixed records `[klen:int32][key][vlen:int32][value]`,
  * sorted by key, each file a contiguous key range unless placed by
  * `__cluster` (see [[write]]); `dir/_index` — `fileName<TAB>minKeyHex<TAB>
  * maxKeyHex<TAB>count[<TAB>statMin<TAB>statMax ...]` per file, headed
  * by `#key=value` metadata lines. One codec reads and writes it:
  * [[readIndexFile]] parses a whole index into (meta, [[RegionInfo]]s)
  * and [[regionLine]] prints one region line; a region's `bytes` is not
  * on its line (readers size regions by file length). Reserved headers:
  * `#api_version` (cluster version gate), `#stats` (declared record
  * statistics), `#generation` (monotonic commit counter), `#table_id`
  * (identity a plain overwrite re-mints), `#gen.<g>` (files born in
  * generation g), `#compacted_through` (the fold point a preserving
  * rewrite stamps) —
  * together the O(1) streaming-offset and compaction-adoption
  * bookkeeping. Unknown `#key=value` lines pass through every parser,
  * and writers may stamp their own via the `meta.<key>` write option.
  *
  * Writes happen on EXECUTORS through the Hadoop FS API (file:// in
  * local mode, HDFS/object stores on a cluster); the driver only
  * collects one [[RegionInfo]] per file — bytes never flow through the
  * driver.
  */
object KVBin {

  val IndexFile = "_index"

  /** The optional input column that steers region placement (see [[write]]). */
  val ClusterColumn = "__cluster"

  /** Write a binary (key, value) frame as `numRanges` region files +
    * index, replacing whatever table `dir` held, stamped with the
    * cluster API version (`#api_version=` header line in the index — the
    * source-side half of the reference's version gate,
    * `utils/utils.go:13-26`). Returns the index entries (unsized:
    * `bytes = -1`). This is the
    * DSv2 write ([[KVBinWriteBuilder]]) in overwrite mode, so it carries
    * that write's commit protocol: attempt-unique region names, the
    * atomic `_index` swap, and the sweep of the replaced regions.
    *
    * Data skipping (the Delta/Iceberg stats analog over the house
    * connector): `stats` declares named long-valued record statistics
    * as [[KVBinStat]] specs (e.g. `("price_k", "v_be64@0")`). The
    * writer folds each region's per-stat min/max into the SAME pass
    * that streams the bytes, stamps the spec list as a `#stats=` index
    * header, and appends `min\tmax` per stat to each region line — the
    * reader then exposes each stat as a virtual LONG column and prunes
    * whole regions on conjunctive range predicates before opening any.
    *
    * Layout: if `kv` carries a `__cluster` column (e.g.
    * [[graft.operators.Layout.zorder2]] of two quantized stats), the
    * range partitioning uses IT instead of the key — regions become
    * compact boxes in stat space (Z-order clustering), which is what
    * makes the stat min/max TIGHT enough to skip on either dimension.
    * Rows stay key-sorted WITHIN each region (the reader's in-region
    * range scoping relies on it); only cross-region placement changes,
    * so key-range pruning degrades gracefully (boxes overlap in key
    * space) while stat pruning becomes sharp. */
  def write(kv: DataFrame, dir: String, numRanges: Int,
            apiVersion: String = "V1",
            stats: Seq[(String, String)] = Nil): Seq[RegionInfo] = {
    val cols = Seq("key", "value") ++ kv.columns.find(_ == ClusterColumn)
    kv.select(cols.map(col): _*).write
      .format(classOf[KVBinSource].getName)
      .option("path", dir)
      .option("ranges", numRanges.toString)
      .option("api_version", apiVersion)
      .option("stats", stats.map { case (n, sp) => s"$n:$sp" }.mkString(","))
      .mode("overwrite").save()
    readIndex(dir, kv.sparkSession.sessionState.newHadoopConf())
  }

  /** Atomically replace `dir/_index`: write a temp sibling, then
    * FileContext.rename(OVERWRITE). `fs.create(path, overwrite=true)`
    * TRUNCATES in place — a reader racing the rewrite (the streaming
    * tail's latestOffset poll, a concurrent batch planner) would see an
    * empty or partial index and silently plan "no regions"; the rename
    * swap guarantees every reader sees the old or the new index, whole.
    * The temp file is cleaned up on failure; it never matches the
    * writer's region-file pattern, so commit sweeps ignore it.
    *
    * Two sidecar disciplines make the swap safe for CACHED readers too:
    * any stale `.crc` sidecar is dropped BEFORE the rename (a
    * ChecksumFileSystem reader in the delete→rename window then skips
    * verification for the old content rather than failing the NEW
    * content against the OLD crc), and the committed index's mtime is
    * forced STRICTLY ABOVE the previous generation's — two swaps inside
    * the filesystem's mtime granularity with equal byte length would
    * otherwise leave a (length, mtime)-fingerprinted cache (the
    * [[KVBinServer]]'s served client) stale until the next commit. */
  def writeIndexAtomic(dir: String, conf: Configuration, content: String): Unit = {
    val uri = new java.net.URI(dir)
    val tmpName = s"$IndexFile.tmp-${java.util.UUID.randomUUID().toString}"
    if (uri.getScheme == null || uri.getScheme == "file") {
      // POSIX rename(2) is the only genuinely atomic overwrite the
      // local FS offers: Hadoop's FileContext rename(OVERWRITE) is
      // delete-then-rename here (a reader in the window sees NO index),
      // and the FileSystem-level local FS shadows files with .crc
      // sidecars a raw rename would leave stale. java.nio writes no
      // sidecar; drop any stale one a pre-atomic writer left behind.
      val base = java.nio.file.Paths.get(
        if (uri.getScheme == null) dir else uri.getPath)
      val idx = base.resolve(IndexFile)
      val prevMtime: Option[Long] =
        try Some(java.nio.file.Files.getLastModifiedTime(idx).toMillis)
        catch { case _: java.io.IOException => None }
      val tmp = base.resolve(tmpName)
      var renamed = false
      try {
        java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
        java.nio.file.Files.deleteIfExists(base.resolve(s".$IndexFile.crc"))
        java.nio.file.Files.move(tmp, idx,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        renamed = true
        // best-effort: the commit is DURABLE once the rename lands. A
        // throw here would propagate out of commit() and make Spark call
        // abort() — deleting region files the committed index references
        // — so a failed bump must degrade to the pre-bump cache-staleness
        // behavior, never to a post-commit abort.
        try prevMtime.foreach { p =>
          if (java.nio.file.Files.getLastModifiedTime(idx).toMillis <= p)
            java.nio.file.Files.setLastModifiedTime(idx,
              java.nio.file.attribute.FileTime.fromMillis(p + 1))
        } catch { case _: java.io.IOException => () }
      } finally if (!renamed) java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // cluster filesystems: FileContext rename with OVERWRITE is the
      // supported atomic primitive (HDFS performs it server-side)
      import org.apache.hadoop.fs.{CreateFlag, FileContext, Options}
      val fs = FileSystem.get(uri, conf)
      val fc = FileContext.getFileContext(fs.getUri, conf)
      val idx = fs.makeQualified(new Path(dir, IndexFile))
      val prevMtime: Option[Long] =
        try Some(fs.getFileStatus(idx).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      val tmp = fs.makeQualified(new Path(dir, tmpName))
      var renamed = false
      try {
        val out = fc.create(tmp,
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(content.getBytes("UTF-8"))
        out.close()
        fs.delete(new Path(dir, s".$IndexFile.crc"), false)
        fc.rename(tmp, idx, Options.Rename.OVERWRITE)
        renamed = true
        // best-effort for the same reason as the local branch: the index
        // swap above IS the commit; failing commit() now would trigger
        // abort()'s region-file cleanup under a live index. Note some
        // FileSystem impls (object-store connectors) make setTimes a
        // no-op — there the (len, mtime) fingerprint window stays open
        // and caches fall back to mtime-granularity staleness.
        try prevMtime.foreach { p =>
          if (fs.getFileStatus(idx).getModificationTime <= p)
            fs.setTimes(idx, p + 1, -1)
        } catch { case _: java.io.IOException => () }
      } finally if (!renamed) fc.delete(tmp, false)
    }
  }

  def hexOf(b: Array[Byte]): String = b.map(x => f"$x%02X").mkString
  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** One read of the index file → (metadata, region entries) — the one
    * `_index` parse. Metadata comes from `#key=value` header lines;
    * indexes written before the stamp existed report api_version V1.
    * Each region line's stat [min, max] pairs attach to its entry only
    * when the header declares `#stats`; a line without them (e.g.
    * rewritten by a stats-unaware compaction that preserved the header)
    * gets Nil — "unknown, cannot prune". Meta and entries come from the
    * same read, so they always describe one index generation. */
  def readIndexFile(dir: String, conf: Configuration)
      : (Map[String, String], Seq[RegionInfo]) = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(new Path(dir, IndexFile)), "UTF-8"))
    try parseIndex(Iterator.continually(in.readLine()).takeWhile(_ != null).toList)
    finally in.close()
  }

  /** [[readIndexFile]] over index text lines. */
  def parseIndex(lines: Seq[String]): (Map[String, String], Seq[RegionInfo]) = {
    val (header, body) = lines.filter(_.nonEmpty).partition(_.startsWith("#"))
    val meta0 = header.map(_.stripPrefix("#").split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    val meta = if (meta0.contains("api_version")) meta0
               else meta0 + ("api_version" -> "V1")
    val withStats = meta.contains("stats")
    val regions = body.map { line =>
      val a = line.split("\t")
      RegionInfo(a(0), unhex(a(1)), unhex(a(2)), a(3).toLong,
        stats = if (!withStats) Nil else a.drop(4).grouped(2).collect {
          case Array(lo, hi) => (lo.toLong, hi.toLong)
        }.toSeq)
    }
    (meta, regions)
  }

  /** One `_index` region line — the write half of the codec. */
  def regionLine(r: RegionInfo): String =
    (Seq(r.id, hexOf(r.minKey), hexOf(r.maxKey), r.nKeys.toString) ++
      r.stats.flatMap { case (lo, hi) => Seq(lo.toString, hi.toString) })
      .mkString("\t")

  /** Meta map → `#k=v` header lines, SCALAR keys first and the
    * O(regions) `#gen.<g>` file lists last — the order [[readPollMeta]]
    * relies on: a streaming tail's poll learns `generation`/`table_id`
    * from the first few lines without reading the region body of a
    * million-region index. */
  def headerLines(meta: Map[String, String]): Seq[String] = {
    val (genKeys, scalars) = meta.toSeq.partition(_._1.startsWith("gen."))
    (scalars.sortBy(_._1) ++ genKeys.sortBy(_._1))
      .map { case (k, v) => s"#$k=$v" }
  }

  /** SCALAR meta only, reading as few index bytes as possible: header
    * lines in writer order until the first `#gen.` or non-header line.
    * The quiet-tail poll path — latestOffset on a stamped table needs
    * only `api_version`/`generation`/`table_id`/`compacted_through`,
    * and a 100 TB table's index body (and its per-generation file
    * lists) is O(regions) the poll must not pay every trigger. An index
    * written by the pre-ordering era (a `#gen.` line before
    * `generation`) falls back to the full read — correctness never
    * depends on the order, only the poll's cost does. */
  def readPollMeta(dir: String, conf: Configuration): Map[String, String] = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(new Path(dir, IndexFile)), "UTF-8"))
    try {
      val out = scala.collection.mutable.Map.empty[String, String]
      var sawGen = false
      var line = in.readLine()
      while (line != null && line.startsWith("#") && !sawGen) {
        if (line.startsWith("#gen.")) sawGen = true
        else line.stripPrefix("#").split("=", 2) match {
          case Array(k, v) => out(k) = v
          case _ =>
        }
        line = if (sawGen) null else in.readLine()
      }
      val meta =
        if (sawGen && !out.contains("generation")) readMeta(dir, conf) // legacy order
        else out.toMap
      if (meta.contains("api_version")) meta
      else meta + ("api_version" -> "V1")
    } finally in.close()
  }

  /** Birth generation per region file, from the `#gen.<g>=f1,f2,...`
    * meta keys each commit stamps: a fresh table is generation 1, every
    * append bumps the counter and tags ITS files, and a compaction
    * re-tags the rewrite with the fold point (`#compacted_through`).
    * Region file names are writer-generated (`part-...kv` — no commas),
    * so the comma-joined value is unambiguous. Empty for unstamped
    * legacy tables. */
  def regionGenerations(meta: Map[String, String]): Map[String, Long] =
    meta.toSeq.flatMap { case (k, v) =>
      if (!k.startsWith("gen.")) Nil
      else v.split(",").toSeq.filter(_.nonEmpty)
        .map(_ -> k.stripPrefix("gen.").toLong)
    }.toMap

  /** Declared record statistics from the `#stats=` header:
    * (name, spec) in stamped order; empty when the index has none. */
  def statDefs(meta: Map[String, String]): Seq[(String, String)] =
    meta.get("stats").toSeq.flatMap(_.split(",").toSeq.map { s =>
      val Array(n, sp) = s.split(":", 2); (n, sp)
    })

  /** Region index entries, stat ranges attached (see [[readIndexFile]]). */
  def readIndex(dir: String, conf: Configuration): Seq[RegionInfo] =
    readIndexFile(dir, conf)._2

  /** Source metadata from the index header. */
  def readMeta(dir: String, conf: Configuration): Map[String, String] =
    readIndexFile(dir, conf)._1

  /** Iterate one region file's records. The stream closes at EOF; a
    * reader that stops early (range end, pushed limit) closes it through
    * the iterator's `close()`, which is idempotent. */
  def readFile(dir: String, name: String, conf: Configuration)
      : Iterator[(Array[Byte], Array[Byte])] with java.io.Closeable = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val in = new DataInputStream(new BufferedInputStream(
      fs.open(new Path(dir, name)), 1 << 16))
    new Iterator[(Array[Byte], Array[Byte])] with java.io.Closeable {
      private var open = true
      override def close(): Unit = if (open) { open = false; in.close() }
      private var nextRec: (Array[Byte], Array[Byte]) = advance()
      private def advance(): (Array[Byte], Array[Byte]) = {
        val klen = try in.readInt() catch { case _: java.io.EOFException => close(); return null }
        val k = new Array[Byte](klen); in.readFully(k)
        val v = new Array[Byte](in.readInt()); in.readFully(v)
        (k, v)
      }
      override def hasNext: Boolean = nextRec != null
      override def next(): (Array[Byte], Array[Byte]) = {
        val r = nextRec; nextRec = advance(); r
      }
    }
  }

  /** Unsigned-lexicographic byte compare (TiKV key order). */
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
  /** [[compare]] as an `Ordering`: unsigned-lex key order. */
  val keyOrder: Ordering[Array[Byte]] = compare(_, _)

  /** Convenience: read a kvbin dir through the DSv2 connector. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format(classOf[KVBinSource].getName).option("path", dir).load()
}

/** Record-statistic specs — the deterministic long-valued functions of
  * a (key, value) record that the index sidecar summarizes per region
  * and the reader exposes as virtual columns. Deliberately tiny — a
  * spec must be evaluable on executors from the record bytes alone:
  *  - `vlen` / `klen` — value / key byte length;
  *  - `v_be64@N` — big-endian signed int64 at byte offset N of the
  *    value (the fixed-width header-field shape). */
object KVBinStat {
  /** Writer-side contract check: names must be distinct, identifier-
    * shaped, and disjoint from the physical (key, value) columns — a
    * stat named "value" would stamp a duplicate-column schema and the
    * reader's column dispatch would shadow it; format metacharacters
    * (tab, colon, comma) would corrupt the index grammar. Specs must
    * parse NOW, not at first read. */
  def validate(stats: Seq[(String, String)]): Unit = {
    val names = stats.map(_._1)
    require(names.distinct == names, s"duplicate kvbin stat names: $names")
    names.foreach(n => require(
      n != "key" && n != "value" && n.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid kvbin stat name '$n' (identifier shape, not key/value)"))
    stats.foreach { case (_, sp) => require(
      sp == "vlen" || sp == "klen" || sp.matches("v_be64@\\d+"),
      s"unknown kvbin stat spec: $sp") }
  }

  def eval(spec: String, k: Array[Byte], v: Array[Byte]): Long = spec match {
    case "vlen" => v.length.toLong
    case "klen" => k.length.toLong
    case s if s.startsWith("v_be64@") =>
      val off = s.stripPrefix("v_be64@").toInt
      require(v.length >= off + 8,
        s"kvbin stat $spec needs ${off + 8} value bytes, record has ${v.length}")
      java.nio.ByteBuffer.wrap(v, off, 8).getLong
    case other => throw new IllegalArgumentException(s"unknown kvbin stat spec: $other")
  }
}
