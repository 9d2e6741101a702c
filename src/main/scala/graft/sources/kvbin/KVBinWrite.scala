package graft.sources.kvbin

import java.io.{BufferedOutputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.util.SerializableConfiguration

/** DSv2 WRITE path for the [[KVBinSource]] connector — the symmetric
  * half of the read side and the ONE writer of the region-file +
  * `_index` layout: `df.write.format("kvbin")` and [[KVBin.write]] (a
  * thin call into it) both land here, through Spark's
  * planner-integrated write protocol:
  *
  *  - `RequiresDistributionAndOrdering` ([[KVBinWrite]]) declares
  *    ORDERED distribution by `key` — or by the input's `__cluster`
  *    column when it carries one (Z-order placement) — plus an ascending
  *    in-partition sort by `key`. Catalyst plans the range-partition +
  *    sort exchange itself (the declarative analog of
  *    `repartitionByRange(...).sortWithinPartitions(...)`), so every
  *    region file is internally key-sorted by CONSTRUCTION, and a caller
  *    can never produce an unsorted region. `ranges` option →
  *    `requiredNumPartitions` (region count ≙ split budget).
  *  - The task-side [[KVBinDataWriter]] streams records through the
  *    Hadoop FS API on EXECUTORS (file:// locally, HDFS/object stores
  *    on a cluster) into an attempt-unique file name, so speculative or
  *    retried tasks can never collide; only COMMITTED tasks' messages
  *    (one [[RegionInfo]] each) reach the driver — bytes never do.
  *  - `commit()` is the visibility point: it writes the `_index`
  *    sidecar from the committed messages (the reader's only source of
  *    truth — uncommitted attempt files are invisible to planning), then
  *    removes files the new index no longer references. `abort()`
  *    deletes the attempt files of failed tasks.
  *
  * Append mode merges new region entries into the existing index
  * (regions may then overlap in key range — legal for scans, checksums
  * and diffs, which treat the table as a KV multiset); overwrite mode
  * (`SupportsTruncate`) swaps the index wholesale. The api_version
  * stamp comes from the writer option of the same name.
  *
  * CONCURRENCY CONTRACT — single concurrent writer per table. The
  * jobTag makes attempt FILES collision-free across applications, but
  * a rival writer is dangerous in TWO ways: its `_index` swap is a
  * read-modify-write with no filesystem-level CAS (two appenders
  * merging against the same old index, the later swap dropping the
  * earlier's regions), and its commit SWEEP deletes every
  * region-pattern file its new index doesn't reference — INCLUDING
  * this job's still-uncommitted attempt files. That second hazard is
  * why the detection fingerprint — the index's (length, modTime) — is
  * taken at write PLANNING time, not at commit: any rival commit
  * during this job's whole lifetime may have reclaimed its attempt
  * files, so an append that observes a changed fingerprint at its
  * commit point must abort (committing would publish an index naming
  * swept files), even though its commit-time re-read of the old
  * entries would have merged the rival's regions correctly. This is
  * best-effort narrowing, not a transaction: serialize writers
  * externally (a real deployment puts a metastore or a lock service in
  * front — the reference's TiKV placement driver plays exactly that
  * role for region metadata). */
class KVBinWriteBuilder(dir: String, info: LogicalWriteInfo,
                        endpoints: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val s = info.schema()
    // declared stats come from whichever side addresses the table: the
    // filesystem index when a path exists, ONE POLL when endpoints-only
    val declared =
      if (dir != null) KVBinSource.statDefs(dir)
      else KVBinSource.statDefsFor(None, endpoints)
    // the table accepts any schema (KVBinTable: ACCEPT_ANY_SCHEMA), so
    // this is the write's only column validation
    require(s.length >= 2 &&
        s.fields.take(2).map(f => (f.name, f.dataType.typeName)).toSeq ==
          Seq(("key", "binary"), ("value", "binary")),
      s"kvbin writes require schema (key binary, value binary [, stat long ...] " +
        s"[, ${KVBin.ClusterColumn} long]), got $s")
    // a read of a stats-bearing table carries the virtual stat columns
    // (a compaction writes it back whole) — accept and IGNORE them:
    // stats are a pure function of the record bytes, so the writer
    // re-derives them from the spec rather than trusting (or requiring)
    // caller-provided values. `__cluster` only steers placement.
    val declaredNames = declared.map(_._1).toSet + KVBin.ClusterColumn
    s.fields.drop(2).foreach(f => require(
      declaredNames(f.name) && f.dataType.typeName == "long",
      s"kvbin write got unexpected column ${f.name}: ${f.dataType.typeName} " +
        s"(declared stats: ${declared.map(_._1).mkString(",")}; placement: " +
        s"${KVBin.ClusterColumn} long)"))
    val placement =
      if (s.fieldNames.contains(KVBin.ClusterColumn)) KVBin.ClusterColumn else "key"
    // stats to stamp: the writer option wins; otherwise a preserved /
    // appended table keeps stamping its own declared specs (compaction
    // RESTAMPS per-region ranges instead of dropping them)
    val optStats = Option(info.options.get("stats")).map(KVBinWrite.parseStats)
    val keepsMeta = !doTruncate ||
      Option(info.options.get("preserve_meta")).exists(_.toBoolean)
    val stats = optStats.getOrElse(if (keepsMeta) declared else Nil)
    KVBinStat.validate(stats)
    // user meta: `meta.<key>` options become `#<key>=<value>` index
    // header lines, committed ATOMICALLY with the data (the one index
    // swap) — the hook an idempotent sink needs to stamp its own
    // progress marker (e.g. `meta.replica_batch`) such that marker and
    // rows can never disagree. Reserved bookkeeping keys are refused.
    import scala.jdk.CollectionConverters._
    val userMeta: Map[String, String] = info.options.asScala.toMap
      .collect { case (k, v) if k.startsWith("meta.") =>
        k.stripPrefix("meta.") -> v }
    userMeta.foreach { case (k, v) =>
      require(k.matches("[a-z0-9_.-]+") && !k.startsWith("gen.") &&
        !Set("api_version", "stats", "generation", "table_id",
          "compacted_through", "fleet_job", KVBinNet.AbsentKey,
          KVBinCommit.ForceGenBumpKey)(k),
        s"kvbin meta option key '$k' is reserved or not [a-z0-9_.-]+")
      require(!v.exists(c => c == '\n' || c == '\r' || c == '='),
        s"kvbin meta option value for '$k' must not contain newline or '='")
    }
    // `force_gen_bump`: commit a generation bump even with zero fresh
    // regions (append path) — the per-store lockstep a fleet-shaped
    // deployment needs so its members' counters never diverge (the
    // fleet read/stream generation watermark is the MIN across stores).
    // Carried in-band through userMeta and stripped by KVBinCommit.
    val forceBump: Map[String, String] =
      if (Option(info.options.get("force_gen_bump")).exists(_.toBoolean))
        Map(KVBinCommit.ForceGenBumpKey -> "true")
      else Map.empty
    val ranges = Option(info.options.get("ranges")).map(_.toInt).getOrElse(0)
    val deferSweep = Option(info.options.get("defer_sweep")).exists(_.toBoolean)
    val preserve = Option(info.options.get("preserve_meta")).exists(_.toBoolean)
    val api = Option(info.options.get("api_version"))
    // `assign_table_id`: a CALLER-assigned table identity for the fresh
    // table a truncate (or first write) creates — the hook that lets
    // INDEPENDENT per-store writes land as ONE table (the streaming
    // fleet replica overwrites each store's shard separately; without a
    // shared identity each store would mint its own table_id and the
    // fleet read's consistency gate would refuse the union). Appends
    // ignore it (the existing identity is kept — KVBinCommit's rule);
    // the fleet batch write prefers the fleet's existing identity and
    // refuses a conflicting assignment.
    val assignTid = Option(info.options.get("assign_table_id"))
    assignTid.foreach(t => require(t.matches("[0-9a-fA-F-]+"),
      s"kvbin assign_table_id must be hex-dash shaped, got '$t'"))
    if (dir != null)
      new KVBinWrite(placement, ranges, new KVBinBatchWrite(dir, doTruncate,
        api, preserve, info.queryId(), stats, deferSweep,
        userMeta ++ forceBump, assignTid))
    else {
      val eps = endpoints.toSeq.flatMap(_.split(",")).map(_.trim)
        .filter(_.matches(".+:\\d+"))
      require(eps.nonEmpty, "kvbin endpoints-only writes need at least " +
        "one valid host:port endpoint")
      if (eps.size == 1)
        // ONE store serving the whole table (a write proxy / leader)
        new KVBinWrite(placement, ranges, new KVBinWireBatchWrite(eps.head,
          doTruncate, api, preserve, info.queryId(), stats, deferSweep,
          userMeta ++ forceBump, assignTid))
      else {
        // SHARDED fleet write (r14): every destination store must
        // advertise an owned key range (OWNS) — PUT streams route to
        // owners by key, commits land per store under one shared table
        // identity. An unscoped fleet member leaves routing undefined;
        // refuse with the remedy named.
        val owned = eps.map(e => e -> new SocketRegionClient(e).owns())
        val unscoped = owned.collect { case (e, None) => e }
        require(unscoped.isEmpty,
          s"kvbin fleet writes route PUT streams by key range, but " +
          s"store(s) ${unscoped.mkString(", ")} advertise no owned range " +
          s"(OWNS) — scope every destination store (KVBinServer " +
          s"ownsRange), or write through ONE store that owns the whole " +
          s"table, or give the destination a filesystem path")
        val stores = KVBinFleet.validateStores(owned.collect {
          case (e, Some((lo, hi))) => KVBinFleet.Store(e, lo, hi) })
        // `commit_key`: the logical identity of this fleet write,
        // stamped per store as `fleet_job` by each per-store COMMIT —
        // the convergence hook for the 2PC window (a crash between
        // per-store COMMITs): RE-RUNNING the same logical write (same
        // commit_key, same data) ADOPTS the stores already stamped with
        // it and commits the rest. Defaults to this execution's jobTag,
        // under which every run is a distinct write (no adoption).
        val commitKey = Option(info.options.get("commit_key"))
          .getOrElse(KVBinDataWriter.jobTag(info.queryId()))
        require(commitKey.matches("[a-z0-9_.-]+"),
          s"kvbin commit_key must be [a-z0-9_.-]+, got '$commitKey'")
        new KVBinWrite(placement, ranges, new KVBinFleetWireBatchWrite(stores,
          doTruncate, api, preserve, info.queryId(), stats, deferSweep,
          userMeta ++ forceBump + ("fleet_job" -> commitKey), assignTid))
      }
    }
  }
}

/** Fleet-write plumbing shared by the builder, batch write and data
  * writers: the ordered, disjoint store table and the key→owner
  * routing over it. */
object KVBinFleet {
  /** One destination store and its owned key range [lo, hi)
    * (empty bytes = unbounded side). */
  case class Store(address: String, lo: Array[Byte], hi: Array[Byte])

  /** Sort stores by range start (unbounded-low first) and refuse
    * overlaps — two stores claiming one key would make routing (and
    * so the fleet's content) nondeterministic. Gaps are LEGAL at
    * validation (a fleet may intentionally own a subset of the key
    * space); a ROW landing in a gap refuses loudly at write time. */
  def validateStores(stores: Seq[Store]): IndexedSeq[Store] = {
    val sorted = stores.sortWith { (a, b) =>
      if (a.lo.isEmpty) true
      else if (b.lo.isEmpty) false
      else KVBin.compare(a.lo, b.lo) < 0
    }.toIndexedSeq
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        val ok = a.hi.nonEmpty && b.lo.nonEmpty &&
          KVBin.compare(a.hi, b.lo) <= 0
        require(ok,
          s"kvbin fleet stores overlap: ${a.address} owns " +
          s"[${KVBin.hexOf(a.lo)}, ${if (a.hi.isEmpty) "∞" else KVBin.hexOf(a.hi)}) and " +
          s"${b.address} owns [${if (b.lo.isEmpty) "-∞" else KVBin.hexOf(b.lo)}, " +
          s"${if (b.hi.isEmpty) "∞" else KVBin.hexOf(b.hi)}) — ranges must be disjoint")
      case _ => ()
    }
    sorted
  }

  /** Owner index of `key` in the sorted store table starting the scan
    * at `from` (rows arrive key-sorted, so the cursor only advances);
    * throws naming the key when it falls in a coverage gap. */
  def ownerFrom(stores: IndexedSeq[Store], from: Int, key: Array[Byte]): Int = {
    var i = from
    while (i < stores.size && stores(i).hi.nonEmpty &&
           KVBin.compare(key, stores(i).hi) >= 0) i += 1
    if (i >= stores.size ||
        (stores(i).lo.nonEmpty && KVBin.compare(key, stores(i).lo) < 0))
      throw new IllegalArgumentException(
        s"kvbin fleet write: no destination store owns key " +
        s"${KVBin.hexOf(key)} — the fleet's owned ranges leave a gap; " +
        s"re-scope the stores to cover the written key space")
    i
  }
}

object KVBinWrite {
  /** Writer `stats` option: `name:spec[,name:spec...]`, same grammar as
    * the `#stats=` index header. */
  def parseStats(s: String): Seq[(String, String)] =
    s.split(",").toSeq.filter(_.nonEmpty).map { e =>
      val Array(n, sp) = e.split(":", 2); (n, sp)
    }
}

/** The one [[Write]] of every kvbin destination — a filesystem path,
  * one store, or a sharded fleet; `batch` (built when Spark asks for
  * it, at write planning) is where the destinations differ. Ordered
  * distribution on `placement` makes Spark range-partition the write:
  * on `key` the partitions are the contiguous, non-overlapping key
  * ranges a region layout needs; on `__cluster` (Z-order placement,
  * e.g. [[graft.operators.Layout.zorder2]] of two quantized stats)
  * regions become compact boxes in stat space, which is what makes
  * per-region stat min/max TIGHT enough to skip on either dimension,
  * while cross-region key ranges may overlap. Either way the
  * in-partition sort by `key` keeps each region internally sorted (the
  * reader's in-region range scoping relies on it). */
class KVBinWrite(placement: String, ranges: Int, batch: => BatchWrite)
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(asc(placement)))
  override def requiredOrdering(): Array[SortOrder] = Array(asc("key"))
  override def requiredNumPartitions(): Int = ranges
  override def toBatch: BatchWrite = batch
  private def asc(c: String): SortOrder =
    Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)
}

/** One task's manifest: the region it wrote (`bytes = -1`). An empty
  * task publishes `nKeys = 0` and no region, but its name still rides
  * along for `abort`. */
case class KVBinCommitMessage(region: RegionInfo) extends WriterCommitMessage

class KVBinBatchWrite(dir: String, truncate: Boolean,
                      apiVersion: Option[String], preserveMeta: Boolean,
                      queryId: String, stats: Seq[(String, String)] = Nil,
                      deferSweep: Boolean = false,
                      userMeta: Map[String, String] = Map.empty,
                      assignTid: Option[String] = None)
    extends BatchWrite {

  // the session hadoop conf is resolved on the DRIVER at job start and
  // shipped to executors — session-scoped spark.hadoop.* settings and
  // credentials reach the region writes exactly like the read side
  private val conf = new SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  // (length, modTime) fingerprint of the _index generation this job
  // plans against, taken at WRITE PLANNING time so the detection window
  // spans the whole job: an append whose base index changed before the
  // swap fails loudly instead of dropping the concurrent writer's
  // regions (see class doc — best-effort, not a transaction)
  private val baseFingerprint: Option[(Long, Long)] = indexFingerprint()

  private def indexFingerprint(): Option[(Long, Long)] = {
    val fs = FileSystem.get(new java.net.URI(dir), conf.value)
    val p = new Path(dir, KVBin.IndexFile)
    if (truncate || !fs.exists(p)) None
    else {
      val st = fs.getFileStatus(p)
      Some((st.getLen, st.getModificationTime))
    }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KVBinWriterFactory(dir, conf, KVBinDataWriter.jobTag(queryId),
      stats.map(_._2))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.toSeq.collect {
      case KVBinCommitMessage(r) if r.nKeys > 0 => r }
    KVBinCommit.commit(dir, conf.value, truncate, apiVersion, preserveMeta,
      stats, deferSweep, userMeta, fresh,
      assignedTableId = assignTid,
      preSwapCheck = () =>
        if (!truncate && indexFingerprint() != baseFingerprint)
          throw new IllegalStateException(
            s"kvbin append commit at $dir: _index changed since this write " +
            s"was planned — a concurrent writer committed, and swapping now " +
            s"would drop its regions from the index and sweep their files. " +
            s"Serialize writers to this table (single concurrent writer " +
            s"contract) and re-run the append."))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = FileSystem.get(new java.net.URI(dir), conf.value)
    messages.collect { case KVBinCommitMessage(r) =>
      fs.delete(new Path(dir, r.id), false)
    }
  }
}

/** The commit algorithm itself — index merge, meta/version/stats gates,
  * generation stamping, the atomic `_index` swap, the sweep — factored
  * out of [[KVBinBatchWrite]] so the WIRE write path (the server's
  * COMMIT verb, [[KVBinServer]]) executes the IDENTICAL logic against
  * its local directory: one definition of "what a kvbin commit means",
  * whether the fresh region files arrived through the Hadoop FS API or
  * as PUT frames over a socket. `preSwapCheck` runs immediately before
  * the index swap — each path supplies its own concurrent-writer guard
  * (filesystem: the planning-time (len, mtime) fingerprint; wire: the
  * planning-time (generation, table_id) pair the client shipped). */
object KVBinCommit {
  /** In-band carrier for the force-generation-bump flag: rides the
    * existing userMeta plumbing (constructors, the wire COMMIT frame)
    * and is STRIPPED here before the meta header is built — it never
    * lands in an index. A fleet keeps its stores' generation counters
    * in LOCKSTEP (the fleet read/stream watermark is the minimum
    * across stores — see MultiSocketRegionClient.mergeMetas), so a
    * fleet append must bump a member store's counter even when no
    * fresh segment routed to it; a plain single-store zero-row append
    * keeps its never-bumps semantics. */
  val ForceGenBumpKey = "__force_gen_bump"

  def commit(dir: String, conf: org.apache.hadoop.conf.Configuration,
             truncate: Boolean, apiVersion: Option[String],
             preserveMeta: Boolean, stats: Seq[(String, String)],
             deferSweep: Boolean, userMetaIn: Map[String, String],
             fresh: Seq[RegionInfo], preSwapCheck: () => Unit,
             assignedTableId: Option[String] = None): Unit = {
    val forceGenBump = userMetaIn.get(ForceGenBumpKey).exists(_.toBoolean)
    val userMeta = userMetaIn - ForceGenBumpKey
    // a driver-assigned table_id (fleet writes: one identity across the
    // stores' per-store commits) must survive the KVBinGenOffset JSON
    // roundtrip, same shape rule that offset enforces
    assignedTableId.foreach(t => require(t.matches("[0-9a-fA-F-]+"),
      s"kvbin assigned table_id must be hex-dash shaped, got '$t'"))
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val indexed = fs.exists(new Path(dir, KVBin.IndexFile))
    val appending = !truncate && indexed
    // append preserves the EXISTING table's metadata: the api_version
    // stamp must not silently change under an append (the read-side
    // version gate keys off it), so a conflicting writer option is an
    // error, not a downgrade; any other `#k=v` meta lines carry over.
    // An OVERWRITE with `preserve_meta` (the compaction path) also
    // carries the extra meta lines through its one atomic index swap —
    // but keeps the overwrite's right to change api_version
    // ONE index read serves the old meta and the old entries
    val (oldMeta, oldIndex) =
      if (appending || (preserveMeta && indexed)) KVBin.readIndexFile(dir, conf)
      else (Map.empty[String, String], Nil)
    // old entries keep their stamped stat ranges through a stats append
    val old =
      if (!appending) Nil
      else if (stats.nonEmpty) oldIndex
      else oldIndex.map(_.copy(stats = Nil))
    val version = (apiVersion, oldMeta.get("api_version")) match {
      case (Some(w), Some(e)) if appending =>
        require(w == e, s"kvbin append with api_version=$w onto a $e table " +
          s"at $dir — rewrite the table (mode overwrite) to change versions")
        w
      case (w, e) => w.orElse(e).getOrElse("V1")
    }
    // an append onto a stats-declaring table must not change the spec
    // list out from under the readers (same rule as api_version) — and
    // appending stats onto a stats-LESS table is equally an error at
    // WRITE time: the commit would stamp a #stats header over old
    // region lines that carry no min/max pairs, and old records that
    // don't satisfy a spec (e.g. value shorter than a v_be64 offset)
    // would only fail later, inside the reader's KVBinStat.eval
    if (appending && stats.nonEmpty) {
      val w = stats.map { case (n2, sp) => s"$n2:$sp" }.mkString(",")
      oldMeta.get("stats") match {
        case Some(e) =>
          require(w == e, s"kvbin append with stats=$w onto a stats=$e table " +
            s"at $dir — rewrite the table (mode overwrite) to change stats")
        case None => throw new IllegalArgumentException(
          s"kvbin append with stats=$w onto a table at $dir that declares " +
          s"no stats — existing regions have no stamped ranges and their " +
          s"records were never validated against the specs; rewrite the " +
          s"table (mode overwrite) to introduce stats")
      }
    }
    // generation stamping — the bookkeeping behind the O(1) streaming
    // offset (KVBinGenOffset): an append onto a STAMPED table bumps the
    // monotonic counter and tags its fresh files with the new birth
    // generation; an append onto an unstamped legacy table stays
    // unstamped (old regions' birth generations are unknowable, and a
    // half-stamped table would silently drop them from epoch tails). A
    // preserve_meta OVERWRITE is the compaction path — a rewrite of the
    // SAME content — so the rewritten regions carry the fold point as
    // their birth generation and `compacted_through` records it: a tail
    // whose checkpoint drained ≥ that generation adopts the rewrite
    // without re-emission, one that didn't refuses loudly. A plain
    // overwrite is a NEW table: generation restarts at 1 under a fresh
    // table_id, which is what lets an epoch checkpoint detect the
    // replacement (the role the name set played for legacy tables).
    val freshFiles = fresh.map(_.id)
    val isGenKey = (k: String) =>
      k == "generation" || k == "compacted_through" || k.startsWith("gen.")
    val genMeta: Map[String, String] =
      if (appending) oldMeta.get("generation") match {
        case Some(g0) if freshFiles.nonEmpty || forceGenBump =>
          val g = g0.toLong + 1
          Map("generation" -> g.toString) ++
            // no empty gen.N list: a forced bump with no fresh segments
            // (a fleet member store a data-carrying fleet append routed
            // nothing to) advances the counter only — readers tolerate
            // a generation without a file list (its due set is empty)
            (if (freshFiles.nonEmpty) Map(s"gen.$g" -> freshFiles.mkString(","))
             else Map.empty)
        case _ => Map.empty // zero-row append, or legacy table stays legacy
      } else if (preserveMeta && oldMeta.contains("generation")) {
        val g = oldMeta("generation")
        Map("generation" -> g, "compacted_through" -> g) ++
          (if (freshFiles.nonEmpty) Map(s"gen.$g" -> freshFiles.mkString(","))
           else Map.empty)
      } else {
        Map("generation" -> "1",
            "table_id" -> assignedTableId.getOrElse(
              java.util.UUID.randomUUID().toString)) ++
          (if (freshFiles.nonEmpty) Map("gen.1" -> freshFiles.mkString(","))
           else Map.empty)
      }
    // a preserving overwrite replaces the file population wholesale —
    // stale per-generation file lists must not survive the swap
    val baseMeta =
      if (appending) oldMeta
      else oldMeta.filterNot { case (k, _) => isGenKey(k) }
    // userMeta last: a sink's progress marker must overwrite the
    // previous generation's value of the same key on every commit
    val meta = baseMeta + ("api_version" -> version) ++
      (if (stats.nonEmpty)
         Map("stats" -> stats.map { case (n2, sp) => s"$n2:$sp" }.mkString(","))
       else Map.empty) ++ genMeta ++ userMeta
    val merged = (old ++ fresh).sortWith((a, b) => KVBin.compare(a.minKey, b.minKey) < 0)
    // scalar headers first, gen.* file lists last (readPollMeta's order)
    val lines = KVBin.headerLines(meta) ++ merged.map(KVBin.regionLine)
    // the index write is the visibility point: readers plan ONLY from
    // _index, so attempt files become part of the table here and not
    // before; after the swap, drop region files the index no longer
    // references (the old generation under truncate, zero-row attempts).
    // The sweep touches ONLY this writer's own naming pattern — a
    // foreign file in the directory (_SUCCESS marker, sidecar) is not
    // ours to delete
    preSwapCheck()
    // a write with no rows to a fresh path created no region file, and
    // so no directory for the index
    fs.mkdirs(new Path(dir))
    // atomic swap (tmp + rename-overwrite): a racing reader — including
    // the streaming tail polling latestOffset — must see the previous
    // or the new index whole, never a truncated in-place rewrite
    KVBin.writeIndexAtomic(dir, conf, lines.mkString("\n"))
    // defer_sweep leaves the now-unreferenced files on disk for one
    // commit cycle: a reader (or a streaming micro-batch) PLANNED on
    // the previous index finishes against files that still exist, and
    // the NEXT commit's sweep reclaims them as orphans (they match the
    // naming pattern and no index references them — the exact orphan
    // contract the crash-recovery spec pins). This is the grace window
    // a compaction under a RUNNING tail wants; the default immediate
    // sweep stays right for batch rewrites with no concurrent readers.
    if (!deferSweep) {
      val live = merged.map(_.id).toSet + KVBin.IndexFile
      fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(p => KVBinDataWriter.RegionFile.matches(p.getName))
        .filterNot(p => live.contains(p.getName))
        .foreach(p => fs.delete(p, false))
    }
  }
}

class KVBinWriterFactory(dir: String, conf: SerializableConfiguration,
                         jobTag: String, statSpecs: Seq[String] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVBinDataWriter(dir, conf, jobTag, partitionId, taskId, statSpecs)
}

object KVBinDataWriter {
  /** The connector's own file-name shapes — the commit sweep deletes
    * only names this pattern matches: `part-NNNNN-<jobTag>-<task>.kv`
    * (written today; fleet segments add `-<seg>`), and on older tables
    * `part-NNNNN.kv` and `part-NNNNN-<task>.kv`. A foreign file in the
    * directory (_SUCCESS marker, sidecar) is not ours to delete. The
    * one capture group is the 5-digit partition field NNNNN. */
  val RegionFile: scala.util.matching.Regex = "part-(\\d{5})(?:-[0-9a-f]+)*\\.kv".r

  /** Job-unique name component from the DSv2 queryId (a per-write UUID):
    * taskIds are only unique within one Spark application, so two
    * applications appending to the same table would otherwise compute
    * the SAME attempt file name and the second would truncate the
    * first's LIVE committed region before any commit. The tag embeds
    * the queryId's FULL hex (a UUID keeps all 122 random bits — a
    * 32-bit String.hashCode compression would make a silent
    * cross-application collision merely unlikely instead of
    * impossible). Dash-stripping applies ONLY to the canonical
    * 8-4-4-4-12 UUID shape — stripping dashes from arbitrary dashed-hex
    * would alias distinct ids ('ab-c' vs 'a-bc') and an all-dash id
    * would yield an empty tag outside the sweep's naming pattern — and
    * pure hex passes through; anything else falls back to 64 bits of
    * SHA-256 (injective inputs aside, still far beyond taskId reuse). */
  private val UuidShape =
    "([0-9a-f]{8})-([0-9a-f]{4})-([0-9a-f]{4})-([0-9a-f]{4})-([0-9a-f]{12})".r
  def jobTag(queryId: String): String = queryId.toLowerCase match {
    case UuidShape(a, b, c, d, e) => a + b + c + d + e
    case s if s.nonEmpty &&
        s.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')) => s
    case _ => java.security.MessageDigest.getInstance("SHA-256")
      .digest(queryId.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
  }
}

/** The record loop every kvbin data writer shares — one definition of
  * what a region's bytes and summary are: length-prefixed
  * `[klen:int32][key][vlen:int32][value]` framing, the key-order check
  * (the declared ordering makes a region's first/last key its min/max;
  * the cheap per-record compare turns any violation into a loud task
  * failure instead of a silently unsorted region), the count, and the
  * per-region stat min/max RE-DERIVED from the record bytes (never read
  * from caller-supplied columns — the ranges a stats table's rewrite
  * restamps so data skipping survives compaction). A data writer
  * supplies only where a region's bytes go ([[streamFor]]: a filesystem
  * file, one PUT stream, or one PUT segment per owner store) and its
  * own commit/abort. */
abstract class KVBinRegionWriter(partitionId: Int, statSpecs: Seq[String])
    extends DataWriter[InternalRow] {

  private var minK: Array[Byte] = _
  private var prevK: Array[Byte] = _
  private var n = 0L
  private val sLo = Array.fill(statSpecs.size)(Long.MaxValue)
  private val sHi = Array.fill(statSpecs.size)(Long.MinValue)

  /** The stream of the region the record keyed `k` belongs to — opened
    * on first use, so an empty partition writes nothing. */
  protected def streamFor(k: Array[Byte]): DataOutputStream

  /** The next record heads a new region: reset its summary. */
  protected final def startRegion(): Unit = {
    minK = null
    n = 0L
    java.util.Arrays.fill(sLo, Long.MaxValue)
    java.util.Arrays.fill(sHi, Long.MinValue)
  }

  /** The current region's manifest entry, published under `file`. */
  protected final def region(file: String): RegionInfo =
    if (n == 0) RegionInfo(file, Array.emptyByteArray, Array.emptyByteArray, 0L)
    else RegionInfo(file, minK, prevK, n, stats = sLo.toSeq.zip(sHi))

  override final def write(row: InternalRow): Unit = {
    val k = row.getBinary(0)
    val v = row.getBinary(1)
    require(prevK == null || KVBin.compare(prevK, k) <= 0,
      s"kvbin write received out-of-order key in partition $partitionId")
    val out = streamFor(k)
    out.writeInt(k.length); out.write(k)
    out.writeInt(v.length); out.write(v)
    if (minK == null) minK = k
    var i = 0
    while (i < statSpecs.size) {
      val x = KVBinStat.eval(statSpecs(i), k, v)
      if (x < sLo(i)) sLo(i) = x
      if (x > sHi(i)) sHi(i) = x
      i += 1
    }
    prevK = k
    n += 1
  }

  override def close(): Unit = ()
}

/** Streams (key, value) records into one attempt-unique region file
  * (`part-<partition>-<jobTag>-<taskId>.kv` — unique across attempts
  * AND across writing applications). */
class KVBinDataWriter(dir: String, conf: SerializableConfiguration,
                      jobTag: String, partitionId: Int, taskId: Long,
                      statSpecs: Seq[String] = Nil)
    extends KVBinRegionWriter(partitionId, statSpecs) {

  private val name = f"part-$partitionId%05d-$jobTag-$taskId.kv"
  private var out: DataOutputStream = _

  override protected def streamFor(k: Array[Byte]): DataOutputStream = {
    if (out == null) {
      val fs = FileSystem.get(new java.net.URI(dir), conf.value)
      out = new DataOutputStream(new BufferedOutputStream(
        fs.create(new Path(dir, name), true), 1 << 16))
    }
    out
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    KVBinCommitMessage(region(name))
  }

  override def abort(): Unit = {
    if (out != null) {
      out.close()
      val fs = FileSystem.get(new java.net.URI(dir), conf.value)
      fs.delete(new Path(dir, name), false)
    }
  }
}

/** One PUT request: attempt file `name` streamed to the store at
  * `address`. The record framing IS the region-file layout, so the
  * server spools the bytes to the attempt file without parsing.
  * [[finish]] sends the terminator frame and requires the store's ack;
  * [[abort]] closes the socket without it — the server's PUT loop hits
  * EOF and deletes the partial file, so nothing is left to reclaim
  * client-side. */
private[kvbin] final class KVBinPut(address: String, val name: String) {
  private val sock = {
    val Array(host, port) = address.split(":", 2)
    val s = new java.net.Socket()
    s.connect(new java.net.InetSocketAddress(host, port.toInt), 10000)
    s.setSoTimeout(60000)
    s
  }
  val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
  private val in = new java.io.DataInputStream(sock.getInputStream)
  out.write(s"PUT $name\n".getBytes("UTF-8"))

  def finish(): Unit = {
    out.writeInt(-1) // terminator: the server closes + acks the file
    out.flush()
    val ack = in.readByte()
    sock.close()
    require(ack == 1, s"kvbin wire PUT of $name refused by $address")
  }

  def abort(): Unit = sock.close()
}

/** The ENDPOINTS-ONLY write — the wire twin of [[KVBinBatchWrite]], closing
  * the read/write asymmetry the r12 surface had (reads, tails and
  * checksums worked with no filesystem path; replication still needed
  * one to the destination). Executor tasks stream their sorted region
  * frames to the store as PUT requests (the record framing IS the
  * region-file layout, so the server spools bytes to the attempt file
  * without parsing); the driver's commit() ships the fresh-region
  * manifest plus every commit option as ONE framed COMMIT request, and
  * the server executes [[KVBinCommit]] — the IDENTICAL merge / gate /
  * stamp / atomic-swap / sweep logic the filesystem path runs — against
  * its local directory. abort() names the attempt files to reclaim.
  *
  * Concurrent-writer guard over the wire: (len, mtime) of a remote
  * _index is invisible, so the client captures the LOGICAL version —
  * the (generation, table_id) pair from one POLL — at write-planning
  * time, and the server refuses the commit if its current pair differs
  * (a rival committed, or the table was replaced). Unstamped legacy
  * tables have no pair; appends to them over the wire are refused
  * rather than guarded weakly — stamp the table (any committed write
  * stamps it) or replicate through a filesystem path.
  *
  * Single-store scope: PUT/COMMIT address ONE server owning the whole
  * table (a write proxy / leader, the role PD's region leader plays for
  * raw_put); a multi-endpoint destination is the sharded fleet write
  * ([[KVBinFleetWireBatchWrite]]). */
class KVBinWireBatchWrite(address: String, truncate: Boolean,
                          apiVersion: Option[String], preserveMeta: Boolean,
                          queryId: String, stats: Seq[(String, String)],
                          deferSweep: Boolean, userMeta: Map[String, String],
                          assignTid: Option[String] = None)
    extends BatchWrite {

  // the LOGICAL base version this job plans against — one POLL at write
  // planning, compared server-side at commit (see class doc). None =
  // the table does not exist yet (a fresh target: nothing to guard).
  private val plannedBase: Option[(String, String)] =
    if (truncate) None
    else {
      val meta = new SocketRegionClient(address).pollMeta()
      (meta.get("generation"), meta.get("table_id")) match {
        case (Some(g), Some(t)) => Some((g, t))
        // fresh target: no index yet — the POLL reply is either empty
        // (pre-marker servers) or carries only the `absent` marker
        case _ if meta.isEmpty || meta.contains(KVBinNet.AbsentKey) => None
        case _ => throw new IllegalArgumentException(
          s"kvbin wire append to $address: the table is UNSTAMPED (no " +
          s"generation/table_id meta) so the commit has no logical " +
          s"version to guard against concurrent writers — commit any " +
          s"write to stamp it, or append through a filesystem path")
      }
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KVBinWireWriterFactory(address,
      KVBinDataWriter.jobTag(queryId), stats.map(_._2))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.toSeq.collect {
      case KVBinCommitMessage(r) if r.nKeys > 0 => r }
    new SocketRegionClient(address).commitWrite(truncate, apiVersion,
      preserveMeta, stats, deferSweep, userMeta, plannedBase, fresh,
      assignTid)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    new SocketRegionClient(address).abortWrite(
      messages.collect { case KVBinCommitMessage(r) => r.id }.toSeq)
}

class KVBinWireWriterFactory(address: String, jobTag: String,
                             statSpecs: Seq[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVBinWireDataWriter(address, jobTag, partitionId, taskId, statSpecs)
}

/** Streams one sorted partition to the store as ONE PUT request — the
  * socket twin of [[KVBinDataWriter]]: same attempt-unique name, same
  * lazily-opened output (an empty partition dials nothing), same record
  * loop (the commit manifest is the CLIENT's summary either way; the
  * server only spools bytes). A task failure closes the socket without
  * the terminator frame, and the server deletes the partial file — the
  * wire analog of abort()'s attempt-file delete. */
class KVBinWireDataWriter(address: String, jobTag: String,
                          partitionId: Int, taskId: Long,
                          statSpecs: Seq[String])
    extends KVBinRegionWriter(partitionId, statSpecs) {

  private val name = f"part-$partitionId%05d-$jobTag-$taskId.kv"
  private var put: KVBinPut = _

  override protected def streamFor(k: Array[Byte]): DataOutputStream = {
    if (put == null) put = new KVBinPut(address, name)
    put.out
  }

  override def commit(): WriterCommitMessage = {
    if (put != null) put.finish()
    KVBinCommitMessage(region(name))
  }

  override def abort(): Unit = if (put != null) put.abort()
}

/** One task's fleet manifest: the acked (storeIdx, segment region)
  * pairs, in key order. */
case class KVBinFleetCommitMessage(segments: Seq[(Int, RegionInfo)])
    extends WriterCommitMessage

/** SHARDED fleet wire write (r14) — the multi-store twin of
  * [[KVBinWireBatchWrite]], closing the r13 seam where a replica could only
  * land on ONE store: the reference's whole purpose is
  * cluster-to-cluster parity (`cmd/main.go:17-18`), and a TiKV-shaped
  * destination spreads regions across store nodes by key range (PD's
  * placement). Spark still plans ONE global range-partition + sort
  * (RequiresDistributionAndOrdering), so each task's rows are a
  * contiguous sorted run; the task-side writer walks that run and
  * splits it at store boundaries — the owner cursor only advances, so
  * a task opens at most (stores it touches) sequential PUT streams,
  * each itself a contiguous sorted range (a legal region by
  * construction). Every store's commit runs the IDENTICAL
  * [[KVBinCommit]] logic against its own directory, under ONE
  * driver-assigned table identity, so the fleet READ path
  * ([[MultiSocketRegionClient]]) sees one coherent table.
  *
  * COMMIT ATOMICITY — two phases, honest about the window:
  *  - Spark itself guarantees no commit is attempted until every task
  *    succeeded, so a store death during the DATA phase (the
  *    partial-failure spec's case) advances no generation anywhere:
  *    tasks fail, the job aborts, acked attempt files are reclaimed by
  *    ABORT and index-less stores stay index-less.
  *  - commit() then runs a PREPARE pass (re-poll every store: liveness
  *    + the planned (generation, table_id) guard) before issuing ANY
  *    per-store COMMIT, and only then commits store-by-store (each
  *    store re-checks its planned base atomically under its own commit
  *    lock). A store dying BETWEEN phase-2 commits is the classic 2PC
  *    ambiguity — the failure names exactly which stores committed and
  *    which did not, and the remedy (the committed stores' guard will
  *    refuse a blind retry: re-plan the append; truncate re-runs are
  *    idempotent). A coordinator log would close even that window —
  *    the metastore's job in a real deployment, as the class doc of
  *    [[KVBinWriteBuilder]] already assigns it. */
class KVBinFleetWireBatchWrite(stores: IndexedSeq[KVBinFleet.Store],
                               truncate: Boolean, apiVersion: Option[String],
                               preserveMeta: Boolean, queryId: String,
                               stats: Seq[(String, String)],
                               deferSweep: Boolean,
                               userMeta: Map[String, String],
                               assignTid: Option[String] = None)
    extends BatchWrite {

  // the logical identity of this write, stamped per store as
  // `fleet_job` by every per-store COMMIT (the builder always sets it;
  // a caller-supplied `commit_key` makes re-runs of one logical write
  // share it — the 2PC-window convergence hook)
  private val commitKey: String = userMeta("fleet_job")

  // one poll per store at write planning, serving three decisions:
  // the planned logical base (the concurrent-writer guard, same
  // contract as the single-store wire write; None = fresh target),
  // ADOPTION (a store whose latest commit already carries this write's
  // commit_key committed in a previous attempt — skip it, its shard is
  // in), and the fleet-shape gates below
  private val plannedMetas: IndexedSeq[Map[String, String]] =
    if (truncate) stores.map(_ => Map.empty[String, String])
    else stores.map(st => new SocketRegionClient(st.address).pollMeta())

  private val adopted: IndexedSeq[Boolean] =
    plannedMetas.map(m => !truncate && m.get("fleet_job").contains(commitKey))

  private val plannedBases: IndexedSeq[Option[(String, String)]] =
    stores.indices.map { i =>
      if (truncate) None
      else {
        val meta = plannedMetas(i)
        (meta.get("generation"), meta.get("table_id")) match {
          case (Some(g), Some(t)) => Some((g, t))
          case _ if meta.isEmpty || meta.contains(KVBinNet.AbsentKey) => None
          case _ => throw new IllegalArgumentException(
            s"kvbin fleet append to ${stores(i).address}: the store's table is " +
            s"UNSTAMPED (no generation/table_id meta) — commit any write " +
            s"to stamp it, or replicate through a filesystem path")
        }
      }
    }

  // ONE table identity across the fleet: appends must already agree on
  // it (a disagreeing fleet is a mis-wired destination — the read
  // side's consistency gate would refuse it too); a fully fresh fleet
  // (and every truncate, whose plannedBases are all None by
  // construction) takes the caller's `assign_table_id` (the streaming
  // replica's cross-batch identity) or mints one. A caller assignment
  // CONFLICTING with a live fleet identity is a mis-wired destination,
  // refused.
  private val assignedTid: Option[String] = {
    val existing = plannedBases.flatten.map(_._2).distinct
    require(existing.size <= 1,
      s"kvbin fleet write: destination stores carry DIFFERENT table_ids " +
      s"(${existing.mkString(", ")}) — they are not one table; fix the " +
      s"endpoints or truncate the fleet")
    require(truncate || assignTid.isEmpty || existing.isEmpty ||
        assignTid.contains(existing.head),
      s"kvbin fleet append with assign_table_id=${assignTid.get} onto a " +
      s"fleet whose table_id is ${existing.head} — not the same table; " +
      s"fix the endpoints or truncate the fleet")
    // under truncate `existing` is empty BY CONSTRUCTION (plannedMetas
    // are not polled), so a truncate's identity source is always the
    // caller's assignTid or a minted UUID — the full-rewrite semantics
    existing.headOption.orElse(assignTid)
      .orElse(Some(java.util.UUID.randomUUID().toString))
  }

  // GENERATION LOCKSTEP gates: the fleet read/stream watermark is the
  // MIN generation across stores (mergeMetas), which is only live when
  // the members' counters move together — every data-carrying fleet
  // append bumps EVERY store (force_gen_bump on the members that
  // received no segments). An append therefore requires the live,
  // non-adopted stores to agree on one generation; adopted stores sit
  // exactly one ahead (the torn write that this retry converges). A
  // fleet mixing FRESH and stamped stores (a member added mid-life)
  // can never reach equality by appending — refuse with the remedy.
  if (!truncate) {
    val liveGens = stores.indices.collect {
      case i if !adopted(i) && plannedBases(i).nonEmpty =>
        (stores(i).address, plannedBases(i).get._1.toLong)
    }
    val adoptedGens = stores.indices.collect {
      case i if adopted(i) => (stores(i).address, plannedBases(i).get._1.toLong)
    }
    // a FRESH member beside ANY stamped member (live OR adopted) can
    // never reach generation lockstep by appending: gating on live
    // members alone let a torn 2-store write whose lagging member was
    // wiped before the commit_key retry commit the fresh store at
    // generation 1 beside the adopted store at g+1 — a silent
    // permanent divergence (r15 advice)
    if ((liveGens.nonEmpty || adoptedGens.nonEmpty) &&
        (liveGens.size + adoptedGens.size) < stores.size)
      throw new IllegalStateException(
        s"kvbin fleet append: store(s) ${stores.indices.collect {
          case i if plannedBases(i).isEmpty => stores(i).address
        }.mkString(", ")} are FRESH while the rest of the fleet is stamped — " +
        s"a member joining mid-life cannot reach generation lockstep by " +
        s"appending; truncate the fleet (a full rewrite stamps every " +
        s"member at generation 1) or rebuild the new member by replication")
    if (liveGens.map(_._2).distinct.size > 1)
      throw new IllegalStateException(
        s"kvbin fleet append: destination stores' generations DIVERGE " +
        s"(${liveGens.map { case (a, g) => s"$a=$g" }.mkString(", ")}) — a " +
        s"previous fleet write was torn between per-store COMMITs, or the " +
        s"fleet was assembled from uneven stores. Re-run the torn write " +
        s"with its commit_key to converge it, or truncate the fleet")
    adoptedGens.foreach { case (a, g) =>
      val base = liveGens.headOption.map(_._2)
      require(base.forall(_ + 1 == g),
        s"kvbin fleet append: store $a already carries commit_key " +
        s"$commitKey at generation $g but the rest of the fleet is at " +
        s"${base.getOrElse(-1L)} — not the single-torn-write shape this " +
        s"retry can converge; truncate the fleet to rebuild")
    }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KVBinFleetWireWriterFactory(stores,
      KVBinDataWriter.jobTag(queryId), stats.map(_._2))

  // Layout-independent shape fingerprint of one store's shard in this
  // write: row count + key span, both derived from the DATA (not the
  // task layout), so a legitimate same-data retry always reproduces
  // it. Stamped as `fleet_fp` by every per-store COMMIT and REQUIRED
  // to match on adoption: adoption is keyed on commit_key alone, so a
  // re-run reusing a commit_key with DIFFERENT data would otherwise
  // keep the adopted store's OLD shard beside the rest of the fleet's
  // NEW data — converged generations over diverged content, invisible
  // to the read-side gates (r15 advice).
  private def shardFp(fresh: Seq[RegionInfo]): String =
    if (fresh.isEmpty) "0" else {
      val rows = fresh.map(_.nKeys).sum
      val mn = fresh.map(f => KVBin.hexOf(f.minKey)).min
      val mx = fresh.map(f => KVBin.hexOf(f.maxKey)).max
      s"$rows:$mn:$mx"
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val perStore: Map[Int, Seq[RegionInfo]] = messages.toSeq
      .collect { case m: KVBinFleetCommitMessage => m.segments }
      .flatten
      .filter(_._2.nKeys > 0)
      .groupMap(_._1)(_._2)
    // PREPARE: every store reachable and (appends) still at its planned
    // base — no COMMIT is issued anywhere until the whole fleet passes,
    // so a store found dead here costs zero committed generations.
    // Adopted stores (their latest commit already carries this write's
    // commit_key — a previous attempt's COMMIT landed) are only probed
    // for liveness: their base legitimately moved past the others'.
    stores.zipWithIndex.foreach { case (st, i) =>
      val meta = new SocketRegionClient(st.address).pollMeta()
      if (!adopted(i)) plannedBases(i).foreach { case (g, t) =>
        require(meta.get("generation").contains(g) &&
            meta.get("table_id").contains(t),
          s"kvbin fleet prepare at ${st.address}: the store's " +
          s"(generation, table_id) moved from ($g, $t) since this write " +
          s"was planned — a concurrent writer committed; re-plan the append")
      }
    }
    // ADOPTION content gate, BEFORE any per-store COMMIT is issued
    // (so a mismatch costs zero committed generations): the adopted
    // store's stamped fleet_fp must match the fingerprint of the data
    // THIS attempt routed to it. A stamp-less adoption (store
    // committed by a pre-fingerprint build) has nothing to compare —
    // allowed, matching the prior behavior.
    stores.indices.foreach { i =>
      if (adopted(i)) {
        val fp = shardFp(perStore.getOrElse(i, Nil))
        plannedMetas(i).get("fleet_fp").foreach { stamped =>
          require(stamped == fp,
            s"kvbin fleet adoption at ${stores(i).address}: the store " +
            s"already carries commit_key $commitKey but its committed " +
            s"shard's fingerprint ($stamped) differs from this attempt's " +
            s"data for it ($fp) — the commit_key was reused with " +
            s"DIFFERENT data, and adopting would silently keep the old " +
            s"shard beside the fleet's new data. Use a fresh commit_key, " +
            s"or truncate the fleet to rewrite it")
        }
      }
    }
    // COMMIT store-by-store, in LOCKSTEP: a data-carrying append (any
    // store received segments) commits EVERY non-adopted store — the
    // members that received nothing bump their generation only
    // (force_gen_bump), keeping the fleet's counters equal so the
    // fleet stream's min-generation watermark advances. A fleet-wide
    // zero-row append commits nothing (all counters unchanged —
    // equality holds either way, matching the single-store
    // zero-row-never-bumps rule). Truncates and fresh targets always
    // commit (stamping the shared identity, so an empty shard is a
    // readable member of the table, not a planning error). Adopted
    // stores skip their COMMIT — their shard landed in the previous
    // attempt; this attempt's re-PUT segments to them are reclaimed
    // by name (the ABORT verb ignores index-referenced files, so a
    // previously COMMITTED segment of the same name is never touched).
    val anyFresh = perStore.valuesIterator.exists(_.nonEmpty)
    val committed = scala.collection.mutable.Buffer.empty[String]
    stores.zipWithIndex.foreach { case (st, i) =>
      val freshHere = perStore.getOrElse(i, Nil)
      if (adopted(i)) {
        try new SocketRegionClient(st.address)
          .abortWrite(freshHere.map(_.id))
        catch { case scala.util.control.NonFatal(_) => () }
      } else if (anyFresh || truncate || plannedBases(i).isEmpty) {
        val bump =
          if (freshHere.isEmpty && !truncate && plannedBases(i).nonEmpty)
            Map(KVBinCommit.ForceGenBumpKey -> "true")
          else Map.empty[String, String]
        try new SocketRegionClient(st.address).commitWrite(truncate,
          apiVersion, preserveMeta, stats, deferSweep,
          userMeta ++ bump + ("fleet_fp" -> shardFp(freshHere)),
          plannedBases(i), freshHere, assignedTid)
        catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"kvbin fleet commit PARTIAL: store(s) " +
              s"[${committed.mkString(", ")}] committed their shard but " +
              s"${st.address} failed — the fleet's generations now " +
              s"disagree. Remedy: RE-RUN this write with the same " +
              s"commit_key ($commitKey) and the same data — the " +
              s"committed stores are adopted by their fleet_job stamp " +
              s"and the rest commit, converging the fleet; or truncate " +
              s"the fleet. Cause: ${e.getMessage}", e)
        }
        committed += st.address
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.collect { case m: KVBinFleetCommitMessage => m.segments }
      .flatten.groupMap(_._1)(_._2.id)
      .foreach { case (i, files) =>
        // best-effort per store: the abort often RUNS because a store
        // died — its attempt files die unreachable, and failing the
        // abort would mask the original error
        try new SocketRegionClient(stores(i).address).abortWrite(files)
        catch { case scala.util.control.NonFatal(_) => () }
      }
}

class KVBinFleetWireWriterFactory(stores: IndexedSeq[KVBinFleet.Store],
                                  jobTag: String, statSpecs: Seq[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVBinFleetWireDataWriter(stores, jobTag, partitionId, taskId, statSpecs)
}

/** Streams one sorted partition to its OWNER STORES as sequential PUT
  * requests: rows arrive key-sorted (the declared ordering), the owner
  * cursor only advances, and each boundary crossing closes the current
  * segment (terminator + ack) and opens the next store's — so one task
  * emits at most one attempt file per store it touches, each file a
  * contiguous sorted range inside its store's owned range. Segment
  * names carry a per-task segment counter (`…-<task>-<seg>.kv`), still
  * inside the connector's naming pattern and unique fleet-wide. A task
  * failure aborts the OPEN segment by socket close (the server
  * reclaims the partial file) and reclaims already-ACKED segments by
  * name via ABORT — nothing a failed task wrote can survive it. */
class KVBinFleetWireDataWriter(stores: IndexedSeq[KVBinFleet.Store],
                               jobTag: String, partitionId: Int, taskId: Long,
                               statSpecs: Seq[String])
    extends KVBinRegionWriter(partitionId, statSpecs) {

  private var storeIdx = 0
  private var seg = 0
  private var put: KVBinPut = _
  private val acked = scala.collection.mutable.Buffer.empty[(Int, RegionInfo)]

  override protected def streamFor(k: Array[Byte]): DataOutputStream = {
    val owner = KVBinFleet.ownerFrom(stores, storeIdx, k)
    if (put != null && owner != storeIdx) closeSegment()
    if (put == null) {
      storeIdx = owner
      put = new KVBinPut(stores(owner).address,
        f"part-$partitionId%05d-$jobTag-$taskId-$seg.kv")
      startRegion()
    }
    put.out
  }

  private def closeSegment(): Unit = if (put != null) {
    put.finish()
    acked += ((storeIdx, region(put.name)))
    seg += 1
    put = null
  }

  override def commit(): WriterCommitMessage = {
    closeSegment()
    KVBinFleetCommitMessage(acked.toSeq)
  }

  override def abort(): Unit = {
    // open segment: no terminator — the server's PUT loop hits EOF and
    // deletes the partial file; acked segments: reclaim by name
    if (put != null) put.abort()
    acked.groupMap(_._1)(_._2.id).foreach { case (i, files) =>
      try new SocketRegionClient(stores(i).address).abortWrite(files.toSeq)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}

/** Region-merge compaction — the connector's analog of TiKV's region
  * merge (small adjacent regions folded into fewer, PD-directed): the
  * current table generation is read through the DSv2 reader (planning
  * only from `_index`) and rewritten through the DSv2 write in
  * overwrite mode with an explicit `ranges` target, so Catalyst plans
  * the range-partition + sort exchange and every produced region is a
  * contiguous sorted range by construction. The `_index` swap at
  * commit is the visibility point and the sweep reclaims the old
  * generation's regions — the identical read-old-while-writing-new
  * overlap the streaming kvbin sink proved (old regions are deleted
  * only at the new index's commit, after every read task finished).
  * Content is byte-identical by contract (spec- and oracle-gated via
  * the checksum triple). Single-concurrent-writer contract applies
  * (see [[KVBinWriteBuilder]]). */
object KVBinCompact {
  /** `deferSweep = true` is the RUNNING-TAIL mode: the old generation's
    * files survive this commit (planned readers finish; the next
    * commit's orphan sweep reclaims them), closing the
    * plan-then-files-vanish window the adoption contract documents. */
  def compact(s: org.apache.spark.sql.SparkSession, path: String,
              targetRegions: Int, deferSweep: Boolean = false): Unit = {
    require(targetRegions >= 1, "targetRegions must be positive")
    val conf = s.sessionState.newHadoopConf()
    val api = KVBin.readMeta(path, conf).getOrElse("api_version", "V1")
    // `preserve_meta` makes the overwrite COMMIT carry the table's
    // other `#k=v` meta lines through its one atomic index swap —
    // compaction is invisible to meta as well as content, and there is
    // no post-commit rewrite that could tear _index on a crash.
    // A stats-bearing dir compacts losslessly: the V2 byName write
    // resolution needs every table column (so the read's virtual stat
    // columns flow through — the writer ignores their values), and the
    // preserved `#stats=` specs make the write RESTAMP each new
    // region's min/max from the record bytes, so data skipping
    // survives the rewrite with fresh, tighter-or-equal ranges
    KVBin.read(s, path).write
      .format(classOf[KVBinSource].getName)
      .option("path", path)
      .option("api_version", api)
      .option("preserve_meta", "true")
      .option("defer_sweep", deferSweep.toString)
      .option("ranges", targetRegions.toString)
      .mode("overwrite").save()
  }
}
