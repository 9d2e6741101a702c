package graft.sources.kvbin

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration

import graft.functions.RawChecksum

/** The kvbin protocol over a real socket — the network half of the
  * connector's live-source seam. The reference actually dials PD and
  * the store nodes over gRPC (`scan/scan.go:45` opens a client against
  * `--pd` endpoints; `checksum/checksum.go:66-70` fans RPCs out per
  * region); this sandbox has no egress and no TiKV, so the seam is
  * proven end-to-end over LOOPBACK instead: [[KVBinServer]] serves a
  * kvbin directory the way a store node serves its regions, and
  * [[SocketRegionClient]] is a full [[RegionClient]] that knows only a
  * `host:port` — planning metadata and every region's bytes flow
  * through the wire, never through a shared filesystem path.
  *
  * Wire protocol (deterministic, length-prefixed, one request per
  * connection — connections are cheap on loopback and executor-side
  * scans must not share mutable driver sockets):
  *
  *   request  := line "META" | "POLL" | "OWNS" | "REGIONS"
  *             | "SCAN <regionId>" | "CHECKSUM <regionId>"
  *             | "PUT <file>" | "COMMIT" | "ABORT"
  *   OWNS     -> byte scoped(0|1); if 1: [minKey][maxKey] — the store's
  *               owned WRITE key range ([min, max), empty = unbounded
  *               side), the routing contract of sharded fleet writes
  *   META     -> int32 n, then n × ([klen][key][vlen][value]) UTF-8;
  *               a store with NO index yet answers n=0 (the write-
  *               target contract, mirroring statDefs's missing-index
  *               → Nil)
  *   POLL     -> same framing as META, SCALAR keys only (no `gen.*`
  *               file lists) — the streaming tail's per-trigger poll
  *               stays O(1) bytes on the wire at any region count
  *   REGIONS  -> int32 n, then n × region, where
  *               region := [idlen][id][mlen][minKey][xlen][maxKey]
  *               [nKeys:int64][bytes:int64]
  *               [nstats:int32, then nstats × (lo:int64, hi:int64)]
  *               is one [[RegionInfo]] ([[KVBinNet.writeRegion]])
  *               — the stamped per-region stat min/max ride the reply
  *               (PD ships approximate stats the same way), so a
  *               wire-planned scan and a socket/fleet TAIL stat-prune
  *               regions exactly like the file-backed client; a
  *               stats-less table sends nstats=0 and never skips
  *   SCAN     -> records [klen][key][vlen][value]…, terminated klen=-1
  *   CHECKSUM -> byte found(0|1); if found: int64 crc64_xor,
  *               int64 total_kvs, int64 total_bytes
  *
  * Write verbs (r13 — the endpoints-only replication surface; the
  * record framing of PUT is the SCAN framing reversed, which is itself
  * the region-file layout, so the server spools bytes without parsing):
  *
  *   PUT      <- records [klen][key][vlen][value]…, klen=-1 terminator
  *            -> byte 1 ack after the attempt file is closed; a client
  *               that dies mid-stream (no terminator) costs only the
  *               partial file, deleted server-side. File names must
  *               match the connector's own attempt pattern.
  *   COMMIT   <- byte truncate, [apiVersion ("" = none)],
  *               byte preserveMeta, byte deferSweep,
  *               int32 nStats × ([name][spec]),
  *               int32 nMeta × ([key][value]),
  *               [plannedGeneration ("" = none)], [plannedTableId],
  *               [assignedTableId ("" = none; fresh tables only —
  *                 a fleet driver stamps one identity across stores)],
  *               int32 nFresh × region (the REGIONS frame; a manifest
  *                 entry's bytes is -1)
  *            -> byte 1, or byte 0 + [error message] — the server runs
  *               the IDENTICAL KVBinCommit logic as the filesystem
  *               path (one definition of commit), guarded by the
  *               client's planning-time (generation, table_id) pair
  *   ABORT    <- int32 n × [file]   -> byte 1 (committed-task attempt
  *               files of an aborted job, reclaimed by name)
  *
  * The int32/bytes framing is exactly the region-file record layout
  * ([[KVBin]]), so a SCAN response is the region file streamed with a
  * terminator — the server never buffers a region in memory. CHECKSUM
  * is the reference's flagship bandwidth win re-expressed: the CRC64
  * fold executes INSIDE the storage node (`checksum/checksum.go:83`:
  * `rawkvClient.Checksum` RPC) and the wire carries three longs per
  * region, never the region's bytes (`checksum/checksum.go:87-91`). */
object KVBinNet {

  /** META/POLL marker key for "this store has no table (no `_index`)
    * yet": the value is the store's table directory, so a planning-time
    * refusal can NAME the missing table. Reads gate on it; writes treat
    * it as the fresh-target contract. Never present in a real index's
    * meta (the writer refuses reserved keys, and this name is refused
    * too via the `absent` match below). */
  val AbsentKey = "absent"

  private[kvbin] def writeBytes(out: DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length); out.write(b)
  }
  private[kvbin] def readBytes(in: DataInputStream): Array[Byte] = {
    val n = in.readInt()
    val b = new Array[Byte](n); in.readFully(b); b
  }
  private[kvbin] def writeString(out: DataOutputStream, s: String): Unit =
    writeBytes(out, s.getBytes("UTF-8"))
  private[kvbin] def readString(in: DataInputStream): String =
    new String(readBytes(in), "UTF-8")

  /** int32 n, then n × ([key][value]) — META/POLL maps (sorted by key)
    * and COMMIT's stats and meta lists. */
  private[kvbin] def writePairs(out: DataOutputStream, kvs: Seq[(String, String)]): Unit = {
    out.writeInt(kvs.size)
    kvs.foreach { case (k, v) => writeString(out, k); writeString(out, v) }
  }
  private[kvbin] def readPairs(in: DataInputStream): Seq[(String, String)] =
    Seq.fill(in.readInt()) { val k = readString(in); (k, readString(in)) }

  /** byte scoped(0|1); if 1: [minKey][maxKey] — a store's owned range. */
  private[kvbin] def writeOwns(out: DataOutputStream,
                               owns: Option[(Array[Byte], Array[Byte])]): Unit =
    owns match {
      case Some((lo, hi)) => out.writeByte(1); writeBytes(out, lo); writeBytes(out, hi)
      case None => out.writeByte(0)
    }
  private[kvbin] def readOwns(in: DataInputStream): Option[(Array[Byte], Array[Byte])] =
    if (in.readByte() == 1) Some((readBytes(in), readBytes(in))) else None

  /** The one wire frame of a region (REGIONS replies, COMMIT manifests). */
  def writeRegion(out: DataOutputStream, r: RegionInfo): Unit = {
    writeString(out, r.id)
    writeBytes(out, r.minKey)
    writeBytes(out, r.maxKey)
    out.writeLong(r.nKeys)
    out.writeLong(r.bytes)
    out.writeInt(r.stats.size)
    r.stats.foreach { case (lo, hi) => out.writeLong(lo); out.writeLong(hi) }
  }
  def readRegion(in: DataInputStream): RegionInfo = {
    val id = readString(in)
    val mn = readBytes(in); val mx = readBytes(in)
    val n = in.readLong(); val bytes = in.readLong()
    RegionInfo(id, mn, mx, n, bytes,
      Seq.fill(in.readInt())((in.readLong(), in.readLong())))
  }
}

/** Serves one kvbin directory over TCP on an ephemeral loopback port,
  * through one [[FileRegionClient]] over that directory: META, POLL,
  * REGIONS, SCAN, CHECKSUM and the PUT guard all answer from it, and it
  * is replaced when the `_index` changes.
  * Thread-per-connection (the verification workload opens a handful of
  * concurrent region scans — one per executor task — not thousands);
  * `close()` is idempotent and joins the acceptor.
  *
  * `owns` scopes the server to a subset of the directory's regions —
  * the multi-store shape: a TiKV cluster spreads regions across store
  * nodes (`checksum/checksum.go:78-95` fans per-region RPCs across the
  * cluster), so a multi-endpoint deployment runs one [[KVBinServer]]
  * per "store", each owning a disjoint region subset of the same key
  * space. REGIONS lists only owned regions; SCAN/CHECKSUM answer only
  * owned ids.
  *
  * [[scanRequests]]/[[checksumRequests]] count served requests — the
  * observable that lets a spec PROVE a pushed checksum never moved
  * region bytes over the wire (0 SCANs, N CHECKSUMs). */
class KVBinServer(dir: String, conf: Configuration,
                  owns: String => Boolean = _ => true,
                  ownsRange: Option[(Array[Byte], Array[Byte])] = None)
    extends AutoCloseable {
  import KVBinNet._

  // `ownsRange` is the WRITE-side ownership contract (r14 sharded
  // fleet writes): a store in a fleet DESTINATION owns a key range
  // [min, max) of the shared key space (empty bytes = unbounded side)
  // — the role PD's region placement plays for raw_put. It is
  // advertised over the OWNS verb (the fleet write builder plans its
  // routing table from it) and ENFORCED at COMMIT time: a scoped
  // store refuses a fresh-region manifest whose [min, max] strays
  // outside its range, so a buggy client-side router can never land
  // foreign keys in this store's index (the PUT spool stays a blind
  // byte copy — validation happens against the client's manifest,
  // which the commit trusts for bounds exactly like the filesystem
  // path does). Read-side region scoping stays `owns` (by region id,
  // the shared-directory fleet-READ shape).
  ownsRange.foreach { case (lo, hi) =>
    require(lo.isEmpty || hi.isEmpty || KVBin.compare(lo, hi) < 0,
      "kvbin server ownsRange: min must precede max")
  }

  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  private val closed = new AtomicBoolean(false)
  // the served client is FINGERPRINT-guarded (length + mtime of
  // _index): a store node serves the CURRENT region set — what lets a
  // streaming tail poll REGIONS over the wire and see appends land —
  // while between commits every META/REGIONS/SCAN answers from the one
  // client's index read (a full N-region table scan must not cost N
  // index reads). The atomic _index swap (writeIndexAtomic) guarantees a
  // re-read never sees a half-written sidecar, and the SAME swap
  // enforces strictly-increasing index mtimes on local and HDFS
  // filesystems (where setTimes is honored), so there two equal-length
  // commits inside the mtime granularity can never leave this
  // fingerprint stale — a wire-tailed stream sees the newest commit. On
  // filesystems whose setTimes is a no-op (several object-store
  // connectors) the bump is best-effort and the window narrows to
  // same-length swaps inside one mtime tick; a server over such a store
  // should sit behind a fronting local/HDFS copy, or the fingerprint
  // would need the #generation header (one header read per request —
  // rejected: it re-opens the index on the client's own hot path).
  private val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
  private val idxLock = new Object
  private var served: ((Long, Long), FileRegionClient) = null
  private def current(): FileRegionClient = idxLock.synchronized {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, KVBin.IndexFile))
    val fp = (st.getLen, st.getModificationTime)
    if (served == null || served._1 != fp) {
      val c = new FileRegionClient(dir, sconf)
      c.clusterMeta() // the index read, under the lock that fingerprinted it
      served = (fp, c)
    }
    served._2
  }
  /** The served client, when it lists region `id` and `owns` it. */
  private def servedFor(id: String): Option[FileRegionClient] =
    Some(current()).filter(c => owns(id) && c.listRegions().exists(_.id == id))

  /** Served SCAN / CHECKSUM / PUT / COMMIT request counts (spec
    * observables — a wire replication spec proves rows moved as PUT
    * frames and landed through COMMITs, never through a shared path). */
  /** Failure injection for crash-consistency specs: while set, every
    * COMMIT is refused (as if the store died between a fleet's
    * per-store COMMIT phases) — the spool, index and meta stay
    * untouched, exactly the torn-write state a real mid-2PC crash
    * leaves. Production code never sets it. */
  val refuseCommits = new AtomicBoolean(false)
  val scanRequests = new java.util.concurrent.atomic.AtomicLong
  val checksumRequests = new java.util.concurrent.atomic.AtomicLong
  val putRequests = new java.util.concurrent.atomic.AtomicLong
  val commitRequests = new java.util.concurrent.atomic.AtomicLong

  // COMMITs serialize server-side: writeIndexAtomic makes each swap
  // atomic, but two interleaved commits would both read-modify-write
  // the index (the exact hazard the single-concurrent-writer contract
  // names); the lock turns same-store racing commits into a clean
  // second-loses-via-guard instead of undefined interleaving
  private val commitLock = new Object

  /** The `endpoints` value clients dial. */
  val address: String =
    s"${InetAddress.getLoopbackAddress.getHostAddress}:${server.getLocalPort}"

  private val acceptor = new Thread(() => {
    while (!closed.get()) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), "kvbin-serve")
        t.setDaemon(true)
        t.start()
      } catch {
        // after close() any accept error just ends the loop; while
        // live, swallowing ONLY SocketException would let e.g. an
        // IOException under fd pressure kill the acceptor silently —
        // clients would then connect (backlog) but never be served
        case _ if closed.get() => // closing: fall out of the loop
        case scala.util.control.NonFatal(_) => // transient: keep accepting
      }
    }
  }, "kvbin-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  // byte-wise line read: the PUT/COMMIT/ABORT verbs carry framed
  // payloads AFTER the request line, so a buffering reader (the old
  // BufferedReader) that read ahead past the newline would steal the
  // first payload bytes. Verbs are ASCII; one read per byte is noise
  // next to the payloads.
  private def readRequestLine(in: DataInputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != -1 && c != '\n') { sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  // META/POLL on a store with NO index yet answer ONLY the `absent`
  // marker (value = this store's table directory) — the write-target
  // contract keeps working (a wire writer plans a fresh table's schema
  // before its first COMMIT creates the index; the writer treats the
  // marker as "fresh target"), while a READ against a mistyped or
  // missing table now fails loudly at PLANNING time with the table
  // named, instead of planning a phantom 2-column schema and dying at
  // read time (r13 ADVICE). Data verbs (REGIONS/SCAN/CHECKSUM) stay
  // strict: reading a table that does not exist is an error, not an
  // empty result.
  private def metaOrEmpty: Map[String, String] =
    try current().clusterMeta()
    catch { case _: java.io.FileNotFoundException =>
      Map(KVBinNet.AbsentKey -> dir) }

  private def serve(sock: Socket): Unit = {
    try {
      // bounded reads: a client that dies mid-PUT must fail this serve
      // thread (and reclaim the partial file), not pin it forever
      sock.setSoTimeout(60000)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
      val req = readRequestLine(in)
      req match {
        case "META" =>
          writePairs(out, metaOrEmpty.toSeq.sortBy(_._1))
        case "POLL" =>
          writePairs(out, metaOrEmpty.toSeq.filterNot(_._1.startsWith("gen."))
            .sortBy(_._1))
          // the OWNS answer rides the same reply (after the map, so a
          // caller reading only the map is untouched): the fleet
          // replication sink probes marker AND ownership every batch —
          // one dial instead of two per store per micro-batch
          writeOwns(out, ownsRange)
        case "OWNS" =>
          // the write-ownership probe: scoped stores answer their key
          // range (empty bytes = unbounded side), unscoped answer 0 —
          // the fleet write builder requires every destination store
          // to be scoped, so it can route PUT streams by key
          writeOwns(out, ownsRange)
        case "REGIONS" =>
          val regions = current().listRegions().filter(r => owns(r.id))
          out.writeInt(regions.size)
          regions.foreach(writeRegion(out, _))
        case scan if scan != null && scan.startsWith("SCAN ") =>
          scanRequests.incrementAndGet()
          val id = scan.stripPrefix("SCAN ")
          // region ids come from this server's own index; anything else
          // is a protocol error answered by the terminator alone
          servedFor(id).foreach { c =>
            // closed however the stream ends: a client that drops
            // mid-scan fails the write below, and the region file must
            // not stay open until GC
            val records = c.scanRegion(id)
            try records.foreach { case (k, v) =>
              writeBytes(out, k); writeBytes(out, v)
            } finally records.close()
          }
          out.writeInt(-1)
        case cs if cs != null && cs.startsWith("CHECKSUM ") =>
          checksumRequests.incrementAndGet()
          val id = cs.stripPrefix("CHECKSUM ")
          servedFor(id) match {
            case Some(client) =>
              // the server-side fold (`checksum/checksum.go:83`'s RPC
              // body): stream the region file through the CRC64 monoid
              // locally and answer with the triple — 24 bytes regardless
              // of region size
              val c = client.checksumRegion(id)
              out.writeByte(1)
              out.writeLong(c.crc64_xor); out.writeLong(c.total_kvs); out.writeLong(c.total_bytes)
            case None => out.writeByte(0)
          }
        case put if put.startsWith("PUT ") =>
          putRequests.incrementAndGet()
          // a PUT stream's pace is the WRITING TASK's pace — a skewed
          // upstream or a GC pause can legitimately stall longer than
          // the request-line deadline (the filesystem writer has no
          // inter-row deadline at all), so the data phase gets a much
          // longer per-read budget; the 60 s line deadline still bounds
          // idle connections that never send a verb
          sock.setSoTimeout(600000)
          val nm = put.stripPrefix("PUT ")
          // same defense as ABORT, mirrored (r13 ADVICE): a PUT naming a
          // file the CURRENT index references would truncate the live
          // committed region the moment fs.create runs — before any
          // commit guard could refuse. jobTag uniqueness makes accidental
          // collision unlikely; the lost-ack rationale documented on
          // ABORT applies equally here, so refuse with byte 0. Served
          // from the fingerprint-guarded served client first, BUT an
          // absent name forces one FRESH index read before the
          // destructive fs.create: the (len, mtime) fingerprint has a
          // stale window on filesystems whose setTimes is a no-op (an
          // index swap preserving byte length within one mtime tick —
          // e.g. a compaction — would otherwise serve a set missing a
          // just-committed region, r15 advice). A PUT spools a whole
          // segment, so the extra index read on its miss path is
          // noise; META/REGIONS/SCAN stay on the served client's hot
          // path. ALL referenced names count, UNFILTERED by the read
          // scope `owns`: a shared-dir fleet sibling's region is just
          // as live.
          def referenced(): Set[String] =
            current().listRegions().map(_.id).toSet
          val putReferenced: Set[String] =
            try {
              val cached = referenced()
              if (cached(nm)) cached
              else {
                idxLock.synchronized { served = null }
                referenced()
              }
            } catch { case _: java.io.FileNotFoundException => Set.empty }
          if (KVBinDataWriter.RegionFile.matches(nm) && !putReferenced(nm)) {
            val fs = org.apache.hadoop.fs.FileSystem.get(
              new java.net.URI(dir), conf)
            val p = new org.apache.hadoop.fs.Path(dir, nm)
            val o = new DataOutputStream(new java.io.BufferedOutputStream(
              fs.create(p, true), 1 << 16))
            var done = false
            try {
              // spool frames verbatim — the framing IS the file layout
              val buf = new Array[Byte](1 << 16)
              def copy(len: Int): Unit = {
                var left = len
                while (left > 0) {
                  val got = in.read(buf, 0, math.min(left, buf.length))
                  if (got < 0) throw new java.io.EOFException(
                    s"PUT $nm truncated mid-record")
                  o.write(buf, 0, got); left -= got
                }
              }
              var klen = in.readInt()
              while (klen >= 0) {
                o.writeInt(klen); copy(klen)
                val vlen = in.readInt()
                // a negative value length is a malformed frame, not a
                // terminator (only klen carries the -1 sentinel): spooling
                // it verbatim would corrupt a region the server still
                // acks, surfacing only at SCAN time on committed data —
                // throw instead, and the finally-block reclaims the
                // partial attempt file without acking (r13 ADVICE)
                if (vlen < 0) throw new java.io.EOFException(
                  s"PUT $nm malformed frame: negative value length $vlen")
                o.writeInt(vlen); copy(vlen)
                klen = in.readInt()
              }
              o.close()
              done = true
              out.writeByte(1)
            } finally if (!done) {
              // no terminator arrived (client died / task aborted):
              // the partial attempt file is reclaimed HERE — the wire
              // analog of DataWriter.abort's delete
              try o.close() catch { case _: java.io.IOException => () }
              fs.delete(p, false)
            }
          } else out.writeByte(0) // foreign name: refuse, write nothing
        case "COMMIT" =>
          commitRequests.incrementAndGet()
          val truncate = in.readByte() == 1
          val apiVersion = Option(readString(in)).filter(_.nonEmpty)
          val preserveMeta = in.readByte() == 1
          val deferSweep = in.readByte() == 1
          val stats = readPairs(in)
          val userMeta = readPairs(in).toMap
          val plannedGen = Option(readString(in)).filter(_.nonEmpty)
          val plannedTid = Option(readString(in)).filter(_.nonEmpty)
          // r14: the DRIVER may assign the fresh table's table_id — a
          // fleet write commits per store, and the stores of one fleet
          // table must share ONE identity or the fleet read's
          // consistency gate (mergeMetas) would refuse its own table
          val assignedTid = Option(readString(in)).filter(_.nonEmpty)
          val fresh = Seq.fill(in.readInt())(readRegion(in))
          try {
            if (refuseCommits.get)
              throw new IllegalStateException(
                s"injected commit refusal at $dir (refuseCommits)")
            // scoped-store bound check: the fresh manifest's key ranges
            // must lie inside this store's owned range — the commit-time
            // enforcement of the OWNS contract (a mis-routed PUT's file
            // never reaches an index; the next sweep reclaims it)
            ownsRange.foreach { case (lo, hi) =>
              fresh.filter(_.nKeys > 0).foreach { f =>
                val below = lo.nonEmpty && KVBin.compare(f.minKey, lo) < 0
                val above = hi.nonEmpty && KVBin.compare(f.maxKey, hi) >= 0
                if (below || above)
                  throw new IllegalArgumentException(
                    s"kvbin wire COMMIT at $dir: region ${f.id} spans " +
                    s"[${KVBin.hexOf(f.minKey)}, ${KVBin.hexOf(f.maxKey)}] outside " +
                    s"this store's owned range [${KVBin.hexOf(lo)}, " +
                    s"${KVBin.hexOf(hi)}) — route keys to their owner store")
              }
            }
            // the same naming discipline as PUT and ABORT: a fresh-
            // region entry outside the connector's own attempt pattern
            // ('_index', a path-traversing name) must never reach the
            // index — readers would resolve it against the directory
            // and the sweep would reason over a foreign entry
            fresh.map(_.id).find(f =>
                !KVBinDataWriter.RegionFile.matches(f)).foreach(f =>
              throw new IllegalArgumentException(
                s"kvbin wire COMMIT names '$f' — not a region attempt " +
                s"file of this connector's naming pattern"))
            // the commit itself is the filesystem path's commit — ONE
            // definition (KVBinCommit); only the concurrent-writer guard
            // differs: the client's planning-time LOGICAL version
            // (generation, table_id) against this store's current meta
            commitLock.synchronized {
              KVBinCommit.commit(dir, conf, truncate, apiVersion,
                preserveMeta, stats, deferSweep, userMeta, fresh,
                assignedTableId = assignedTid,
                preSwapCheck = () => if (!truncate) {
                  val cur =
                    try KVBin.readPollMeta(dir, conf)
                    catch { case _: java.io.FileNotFoundException =>
                      Map.empty[String, String] }
                  (plannedGen, plannedTid) match {
                    case (Some(g), Some(t)) =>
                      require(cur.get("generation").contains(g) &&
                          cur.get("table_id").contains(t),
                        s"kvbin wire append at $dir: the table's " +
                        s"(generation, table_id) moved from ($g, $t) " +
                        s"since this write was planned — a concurrent " +
                        s"writer committed or the table was replaced; " +
                        s"re-plan the append")
                    case _ =>
                      require(cur.isEmpty,
                        s"kvbin wire append at $dir: a table appeared " +
                        s"since this write planned against an empty " +
                        s"target — re-plan the append")
                  }
                })
            }
            out.writeByte(1)
          } catch {
            case scala.util.control.NonFatal(e) =>
              out.writeByte(0)
              writeString(out, Option(e.getMessage).getOrElse(e.toString))
          }
        case "ABORT" =>
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(dir), conf)
          // files the CURRENT index references are NEVER abortable: a
          // COMMIT that landed server-side but whose ack was lost (or
          // that failed after its index swap) makes the client abort —
          // deleting its files here would corrupt the committed table.
          // The ambiguous-commit abort then degrades to a no-op and the
          // committed generation survives, exactly like the filesystem
          // path where abort() only ever touches UNreferenced attempts.
          val referenced: Set[String] =
            try KVBin.readIndex(dir, conf).map(_.id).toSet
            catch { case _: java.io.FileNotFoundException => Set.empty }
          (0 until in.readInt()).foreach { _ =>
            val nm = readString(in)
            // same naming discipline as the sweep: only our own pattern
            if (KVBinDataWriter.RegionFile.matches(nm) && !referenced(nm))
              fs.delete(new org.apache.hadoop.fs.Path(dir, nm), false)
          }
          out.writeByte(1)
        case _ => // unknown request: close without a frame
      }
      out.flush()
    } catch {
      case _: java.io.IOException => // client went away mid-scan
    } finally sock.close()
  }

  override def close(): Unit = if (closed.compareAndSet(false, true)) {
    server.close()
    acceptor.join(2000)
  }
}

/** A [[RegionClient]] that knows only the server address — the network
  * twin of [[FileRegionClient]]. Serializable state is the address
  * string alone, so executor tasks deserialize it and dial the server
  * themselves (`scanRegion` runs executor-side; one connection per
  * region scan, no shared sockets). */
class SocketRegionClient(address: String) extends RegionClient {
  import KVBinNet._

  private def dial[T](request: String,
                      body: DataOutputStream => Unit = _ => (),
                      readTimeoutMs: Int = 60000)
                     (read: DataInputStream => T): T = {
    val Array(host, port) = address.split(":", 2)
    val sock = new Socket()
    // bounded waits: a wedged or dead server must FAIL the task (so
    // Spark retries it) rather than hang it forever with no timeout.
    // No connection retry HERE by design: a refused dial fails the
    // Spark task and task retry re-dials — retrying inside the client
    // would stack two retry loops and hide a down store from the
    // scheduler's failure accounting.
    // `readTimeoutMs` is per-VERB (r13 ADVICE): COMMIT/ABORT mirror the
    // server's asymmetric 600 s PUT data-phase budget — a long-running
    // server-side commit (large index merge, immediate sweep over many
    // regions, slow object store) must not make the client throw
    // SocketTimeoutException over a commit that actually LANDED, turning
    // a success into an ambiguous failure. Read verbs keep the 60 s
    // bound: they stream continuously, so silence means a dead server.
    sock.connect(new java.net.InetSocketAddress(host, port.toInt), 10000)
    sock.setSoTimeout(readTimeoutMs)
    try {
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      out.write((request + "\n").getBytes("UTF-8"))
      body(out)
      out.flush()
      read(new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16)))
    } finally sock.close()
  }

  override def clusterMeta(): Map[String, String] =
    dial("META")(readPairs(_).toMap)

  /** One POLL round-trip: scalar meta only — the per-trigger poll of a
    * wire tail moves a handful of key/value pairs regardless of how
    * many regions (or generations) the table has accumulated. */
  override def pollMeta(): Map[String, String] = pollMetaAndOwns()._1

  /** POLL's full reply: scalar meta AND the store's owned write range
    * in one round-trip — the fleet replication sink's per-batch probe
    * (marker + ownership) at one dial per store instead of two. */
  def pollMetaAndOwns(): (Map[String, String], Option[(Array[Byte], Array[Byte])]) =
    dial("POLL") { in =>
      val meta = readPairs(in).toMap
      (meta, readOwns(in))
    }

  override def listRegions(): Seq[RegionInfo] =
    dial("REGIONS")(in => Seq.fill(in.readInt())(readRegion(in)))

  /** Streams the region fully into the task (regions are bounded by the
    * writer's range split — the same contract the file client's
    * buffered reads rely on); the connection closes before the iterator
    * is handed back, so a task that stops consuming early leaks nothing. */
  override def scanRegion(regionId: String): Iterator[(Array[Byte], Array[Byte])] =
    dial(s"SCAN $regionId") { in =>
      val buf = Vector.newBuilder[(Array[Byte], Array[Byte])]
      var klen = in.readInt()
      while (klen >= 0) {
        val k = new Array[Byte](klen); in.readFully(k)
        val v = readBytes(in)
        buf += ((k, v))
        klen = in.readInt()
      }
      buf.result().iterator
    }

  /** The wire form of the server-side checksum: one CHECKSUM request,
    * 25 response bytes, no region data on the wire — the socket twin of
    * the reference's `rawkv.Checksum` RPC (`checksum/checksum.go:83-91`). */
  override def checksumRegion(regionId: String): RawChecksum =
    dial(s"CHECKSUM $regionId") { in =>
      if (in.readByte() != 1)
        throw new IllegalArgumentException(
          s"region $regionId not served by $address")
      RawChecksum(in.readLong(), in.readLong(), in.readLong())
    }

  /** This store's owned write key range ([min, max), empty = unbounded
    * side), or None for an unscoped single store — the OWNS probe the
    * fleet write builder routes by. */
  def owns(): Option[(Array[Byte], Array[Byte])] = dial("OWNS")(readOwns)

  /** Ships the COMMIT frame (see the protocol doc) and raises the
    * server's refusal verbatim — the guard message names the remedy,
    * and swallowing it here would turn a refused commit into a
    * silently-missing generation. `assignedTableId` (fresh tables
    * only) lets a fleet driver stamp ONE identity across its stores'
    * per-store commits. */
  def commitWrite(truncate: Boolean, apiVersion: Option[String],
                  preserveMeta: Boolean, stats: Seq[(String, String)],
                  deferSweep: Boolean, userMeta: Map[String, String],
                  plannedBase: Option[(String, String)],
                  fresh: Seq[RegionInfo],
                  assignedTableId: Option[String] = None): Unit =
    dial("COMMIT", out => {
      out.writeByte(if (truncate) 1 else 0)
      writeString(out, apiVersion.getOrElse(""))
      out.writeByte(if (preserveMeta) 1 else 0)
      out.writeByte(if (deferSweep) 1 else 0)
      writePairs(out, stats)
      writePairs(out, userMeta.toSeq.sortBy(_._1))
      writeString(out, plannedBase.map(_._1).getOrElse(""))
      writeString(out, plannedBase.map(_._2).getOrElse(""))
      writeString(out, assignedTableId.getOrElse(""))
      out.writeInt(fresh.size)
      fresh.foreach(writeRegion(out, _))
    }, readTimeoutMs = 600000) { in =>
      if (in.readByte() != 1)
        throw new IllegalStateException(readString(in))
    }

  /** Reclaims named attempt files of an aborted wire write job. */
  def abortWrite(files: Seq[String]): Unit =
    dial("ABORT", out => {
      out.writeInt(files.size)
      files.foreach(writeString(out, _))
    }, readTimeoutMs = 600000) { in =>
      if (in.readByte() != 1)
        throw new IllegalStateException(s"kvbin wire ABORT refused by $address")
    }
}

/** A [[RegionClient]] over SEVERAL store endpoints — the reference dials
  * a comma-separated endpoint list (`config/config.go:30-31`) and fans
  * per-region work across the cluster's stores
  * (`checksum/checksum.go:78-95`). Each endpoint is a [[KVBinServer]]
  * owning a disjoint region subset; planning unions every store's
  * REGIONS answer and remembers the owner, so executor-side
  * scans/checksums dial the one store that holds the region.
  *
  * Serializable state: the address list plus the owner map captured at
  * planning time (listRegions runs driver-side before partitions
  * serialize the client); a reader that somehow sees an unmapped region
  * re-lists rather than failing. */
class MultiSocketRegionClient(addresses: Seq[String]) extends RegionClient {
  require(addresses.nonEmpty, "at least one endpoint required")
  private val clients = addresses.map(new SocketRegionClient(_)).toIndexedSeq
  private var routing: Map[String, Int] = Map.empty

  /** Cluster meta must be CONSISTENT across stores — a fleet where the
    * stores disagree on `api_version` or `table_id` is a mis-wired
    * deployment, caught here at planning time rather than as silent
    * mixed-format rows (the per-cluster gate of `utils/utils.go:13-26`,
    * applied per store). The GENERATION bookkeeping, by contrast, may
    * legitimately STRADDLE a commit (each store refreshes its index
    * cache on its own next request), and it is monotonic — `generation`
    * and `compacted_through` only grow, `gen.*` keys only accrue.
    * The merged `generation` is the fleet WATERMARK: the MINIMUM
    * across stores — every generation ≤ it is fully committed on
    * every member, so a gen-offset stream that drains through it can
    * never skip a lagging store's later commit (merging by MAX did
    * exactly that: a store whose counter trailed the merged watermark
    * had its subsequent commits born at generations ≤ the already-
    * drained offset, silently never emitted — the r14 advisory's
    * fleet-divergence hazard). Each store's counter is monotonic, so
    * the min is monotonic and the stream's backwards-watchdog never
    * false-fires; a mid-commit straddle just holds the watermark one
    * poll (the batch comes up empty, the next poll advances), and the
    * fleet WRITE side keeps the counters in lockstep (every
    * data-carrying fleet append bumps every member — KVBinCommit's
    * force_gen_bump) so the min never lags at rest.
    * `compacted_through` stays numeric MAX (the conservative side for
    * its consumer: the stream REFUSES when any store compacted past
    * the checkpoint), and the per-generation file lists merge by
    * presence-union (a key either store carries is taken; a key BOTH
    * carry on a SHARDED fleet holds different shards — union the
    * comma-split sets; a shared-dir read fleet carries identical
    * lists and the union is a no-op). A straddled COMPACTION can
    * therefore surface one store's stale file list; the streaming
    * planner's due-set and compacted_through checks turn that into a
    * loud refusal (retry the poll), never a silent wrong batch. */
  override def clusterMeta(): Map[String, String] =
    mergeMetas(clients.map(_.clusterMeta()))

  /** The fleet poll: one POLL per store (scalars only), merged and
    * consistency-checked exactly like [[clusterMeta]]. */
  override def pollMeta(): Map[String, String] =
    mergeMetas(clients.map(_.pollMeta()))

  private def mergeMetas(metas0: Seq[Map[String, String]]): Map[String, String] = {
    // `absent` markers merge presence-style but never mask a live table:
    // when ANY store carries a real index the markers drop (a mixed
    // fleet then fails the api_version consistency check below, loudly);
    // when EVERY store is fresh the merged reply keeps the first
    // store's marker so the read gate fires with a table named.
    val metas =
      if (metas0.exists(!_.contains(KVBinNet.AbsentKey)))
        metas0.map(_ - KVBinNet.AbsentKey)
      else metas0
    val versions = metas.map(_.get("api_version")).distinct
    if (versions.size > 1)
      throw new IllegalStateException(
        s"endpoints disagree on api_version: ${addresses.zip(metas.map(_.get("api_version"))).mkString(", ")}")
    val tids = metas.flatMap(_.get("table_id")).distinct
    if (tids.size > 1)
      throw new IllegalStateException(
        s"endpoints disagree on table_id: ${addresses.zip(metas.map(_.get("table_id"))).mkString(", ")}")
    val merged = scala.collection.mutable.Map.empty[String, String]
    metas.foreach(_.foreach { case (k, v) =>
      merged.get(k) match {
        case Some(old) if k == "generation" =>
          // fleet watermark: the MIN across stores (see class doc) —
          // max here silently skipped a lagging store's later commits
          if (v.toLong < old.toLong) merged(k) = v
        case Some(old) if k == "compacted_through" =>
          if (v.toLong > old.toLong) merged(k) = v
        case Some(old) if k.startsWith("gen.") && old != v =>
          // a SHARDED fleet (r14 fleet writes: per-store directories,
          // one shared table identity) legitimately carries DIFFERENT
          // per-generation file lists per store — generation N's
          // regions are the UNION across stores, so merge the
          // comma-split sets (sorted for determinism). A shared-dir
          // read fleet never reaches here (identical lists).
          merged(k) = (old.split(",").toSet ++ v.split(",").toSet)
            .toSeq.sorted.mkString(",")
        case Some(_) => // identical across stores (or stale-straddle: see doc)
        case None => merged(k) = v
      }
    })
    merged.toMap
  }

  override def listRegions(): Seq[RegionInfo] = {
    val owned = clients.zipWithIndex.flatMap { case (c, i) =>
      c.listRegions().map(r => (r, i))
    }
    routing = owned.map { case (r, i) => r.id -> i }.toMap
    owned.map(_._1)
  }

  private def ownerOf(regionId: String): SocketRegionClient = {
    if (!routing.contains(regionId)) listRegions()
    clients(routing.getOrElse(regionId,
      throw new IllegalArgumentException(s"no endpoint owns region $regionId")))
  }

  override def scanRegion(regionId: String): Iterator[(Array[Byte], Array[Byte])] =
    ownerOf(regionId).scanRegion(regionId)
  override def checksumRegion(regionId: String): RawChecksum =
    ownerOf(regionId).checksumRegion(regionId)
}
