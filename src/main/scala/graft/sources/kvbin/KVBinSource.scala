package graft.sources.kvbin

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector over [[KVBin]] region files — the engine's
  * stand-in for a live TiKV connector (SURVEY §2a rows 1-2): partition
  * planning enumerates the region index (≙ PD region metadata scan,
  * `checksum/checksum.go:52-57`) and packs the surviving regions into
  * Spark-sized input partitions, and key-range predicates push down to
  * BOTH file pruning (regions outside `[start,end)` are never opened)
  * and in-reader range scoping (≙ the server-side bounded Scan,
  * `scan/scan.go:45`). Pushed range filters are consumed entirely —
  * `pushedFilters` reports them handled, so Spark plans no residual
  * filter for them.
  *
  * Full DSv2 planner integration (each spec-pinned in KVBinSpec):
  *  - `SupportsPushDownAggregates` — COUNT/MIN(key)/MAX(key) answered
  *    from region metadata, no region opened;
  *  - `SupportsReportStatistics` — exact rows + serialized bytes from
  *    the index, range-pruned, feeding broadcast decisions;
  *  - `SupportsRuntimeFiltering` — dynamic region pruning from a
  *    selective join's key set (the DPP analog);
  *  - `SupportsPushDownLimit` — sorted-region readers stop at the head.
  *
  * Connector options (the live-cluster interface surface):
  *  - `api_version` — expected cluster API version; planning fails fast
  *    if the source's stamped version differs (the reference's
  *    per-cluster version gate, `utils/utils.go:13-26` applied at
  *    `checksum/checksum.go:134-137`);
  *  - `endpoints` — comma-separated endpoint list, passed to
  *    [[RegionClient.connect]] (the dial point): a network client
  *    implementation dials these, the file-backed default ignores them
  *    but still surfaces them on the scan description for inspection.
  *
  * All cluster interaction goes through the [[RegionClient]] seam —
  * planning consumes `clusterMeta`/`listRegions`, readers consume
  * `scanRegion` — so a live TiKV client swaps in behind `connect`
  * without touching planner or reader code.
  */
class KVBinSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KVBinSource.schemaOf(KVBinSource.statDefsFor(
      Option(options.get("path")), Option(options.get("endpoints"))))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KVBinTable(properties.get("path"),
      Option(properties.get("endpoints")))
}

object KVBinSource {
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  /** Declared record stats of an existing source dir, from the index
    * `#stats=` header — Nil for plain dirs and for dirs with no index
    * yet (a write target). Only the missing-index case is swallowed: a
    * transient FS failure or a malformed header must FAIL the query
    * loudly, not silently degrade the table to a 2-column schema that a
    * later stat-column reference then blames. */
  def statDefs(dir: String): Seq[(String, String)] =
    try {
      val conf = org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf()
      // scalar headers suffice ("stats" precedes the gen.* lists) —
      // schema inference must not pay an O(regions) index read
      KVBin.statDefs(KVBin.readPollMeta(dir, conf))
    } catch {
      case _: java.io.FileNotFoundException => Nil
      case _: java.net.URISyntaxException => Nil
    }

  /** Declared stats resolved through whichever side the options name:
    * valid `endpoints` → ONE POLL round-trip to the cluster (the
    * `#stats` key rides the scalar meta), so a client that knows only
    * `host:port` plans, scans and tails with the full virtual-column
    * schema and NO shared filesystem path; otherwise the local index.
    * This is what makes `path` optional for wire reads — the wire
    * carries everything planning needs (META/POLL scalars, REGIONS
    * bounds + stat ranges, SCAN bytes). Writes still require a path. */
  def statDefsFor(path: Option[String],
                  endpoints: Option[String]): Seq[(String, String)] = {
    val eps = endpoints.map(_.split(",").map(_.trim)
      .filter(_.matches(".+:\\d+")).toSeq).getOrElse(Seq.empty)
    if (eps.nonEmpty)
      try {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          org.apache.spark.sql.SparkSession.active
            .sessionState.newHadoopConf())
        KVBin.statDefs(
          RegionClient.connect(path.orNull, endpoints, conf).pollMeta())
      } catch {
        // connection-class failures ONLY (an IOException covers refused
        // dials, resets and timeouts): a semantic error from a reachable
        // server must propagate, and the fallback is LOUD — a local
        // index describing a different table than the endpoints would
        // otherwise mask a misconfigured cluster until scan time
        case e: java.io.IOException if path.isDefined =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"kvbin: endpoints ${endpoints.get} unreachable for schema " +
            s"planning (${e.getMessage}); falling back to the local " +
            s"index at ${path.get} — verify both point at the SAME table")
          statDefs(path.get)
      }
    else path.map(statDefs).getOrElse(
      throw new IllegalArgumentException(
        "kvbin reads need a 'path' or a valid 'endpoints' option"))
  }

  /** ONE POLL round-trip for a table's scalar meta — over the wire when
    * `endpoints` name stores, else from the `dir` index header. For an
    * endpoints-only table the `absent` marker rides it (see
    * [[KVBinNet.AbsentKey]]), so the read gate and the stat-column
    * schema come from the same wire call. */
  def pollMetaFor(dir: String, endpoints: Option[String]): Map[String, String] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    RegionClient.connect(dir, endpoints, conf).pollMeta()
  }

  /** (key, value) plus one non-null virtual LONG column per declared
    * stat — the Delta/Iceberg data-skipping surface: filter on a stat
    * column and planning prunes regions from the index min/max before
    * any region file opens. */
  def schemaOf(statDefs: Seq[(String, String)]): StructType =
    StructType(schema.fields ++ statDefs.map { case (n, _) =>
      StructField(n, LongType, nullable = false)
    })

  def schemaFor(dir: String): StructType = schemaOf(statDefs(dir))

  /** Region pruning shared by the batch scan and the micro-batch stream:
    * keep `r` unless its [minKey, maxKey] misses the key scope (`start`
    * inclusive, `end` exclusive, `endIncl` inclusive; null = unbounded)
    * or its stamped stat box misses a pushed stat range. A region
    * without stamped ranges (stats-unaware rewrite, network client) is
    * never skipped — the reader still row-filters, so skipping is
    * purely an optimization. */
  def inScope(r: RegionInfo, start: Array[Byte], end: Array[Byte],
              endIncl: Array[Byte], statBounds: Seq[StatBound]): Boolean =
    (start == null || KVBin.compare(r.maxKey, start) >= 0) &&
    (end == null || KVBin.compare(r.minKey, end) < 0) &&
    (endIncl == null || KVBin.compare(r.minKey, endIncl) <= 0) &&
    statBounds.forall(b => !r.stats.isDefinedAt(b.i) || {
      val (mn, mx) = r.stats(b.i); mx >= b.lo && mn <= b.hi
    })

  /** Packs regions into input partitions by Spark's file-source split
    * rule: a region weighs its bytes (or 64 B per record when the client
    * cannot size it) plus `spark.sql.files.openCostInBytes`, and a bin
    * closes before the region that would take it past
    * `FilePartition.maxSplitBytes` — `maxPartitionBytes`, lowered so the
    * table spreads over `spark.sql.files.minPartitionNum` (default: the
    * leaf-node parallelism). A bin over the cap holds one region. Unlike
    * the file source, bins fill in KEY order (by `minKey`, stable), so a
    * partition is a contiguous key run and a plain scan returns rows in
    * key order. Why not a task per region: a Spark task has a fixed
    * cost (scheduling, and deserializing the client's hadoop conf) that
    * a small region's scan does not come near. The batch scan and the
    * micro-batch stream both plan through it. */
  def packed(spark: org.apache.spark.sql.SparkSession,
             regions: Seq[RegionInfo]): Seq[Seq[RegionInfo]] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val weighed = regions.sortBy(_.minKey)(KVBin.keyOrder)
      .map(r => (r, r.sizeBytes + openCost))
    val cap = org.apache.spark.sql.execution.datasources.FilePartition
      .maxSplitBytes(spark, weighed.map(_._2).sum)
    val bins = Seq.newBuilder[Seq[RegionInfo]]
    var bin = Vector.empty[RegionInfo]
    var binBytes = 0L
    weighed.foreach { case (r, w) =>
      if (bin.nonEmpty && binBytes + w > cap) {
        bins += bin; bin = Vector.empty; binBytes = 0L
      }
      bin :+= r; binBytes += w
    }
    if (bin.nonEmpty) bins += bin
    bins.result()
  }
}

class KVBinTable(dir: String, tableEndpoints: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  // ONE meta resolution per table instance: Spark consults schema()
  // several times while planning, and each probe would re-open _index
  // (or re-dial POLL). For endpoints-only tables the full polled meta
  // is kept too: the `absent` marker in it is what lets newScanBuilder
  // refuse a READ of a table that does not exist at PLANNING time
  // (schema() itself must stay permissive — a write to a fresh target
  // resolves the same table object and must see the 2-column schema).
  private lazy val polledMeta: Option[Map[String, String]] =
    if (dir == null && tableEndpoints.isDefined)
      Some(KVBinSource.pollMetaFor(null, tableEndpoints))
    else None
  private lazy val statDefs = polledMeta match {
    case Some(m) => KVBin.statDefs(m)
    case None => KVBinSource.statDefsFor(Option(dir), tableEndpoints)
  }
  override def name(): String =
    s"kvbin:${Option(dir).orElse(tableEndpoints).getOrElse("?")}"
  /** LIVE (table_id, generation) of the table the reads are served
    * from — the input fingerprint [[graft.operators.Memo]] keys carry,
    * because a kvbin table's canonicalized plan carries no content
    * signal at all: an in-place `KVBin.write` (fresh table_id) or an
    * append (next generation), over the wire or through the path,
    * would otherwise serve stale memoized values within a session. One
    * O(1) POLL per call: the store's when endpoints are set, else the
    * `_index` header of the path. */
  private[graft] def liveEpoch: (String, String) = {
    val m = KVBinSource.pollMetaFor(dir, tableEndpoints)
    (m.getOrElse("table_id", ""), m.getOrElse("generation", ""))
  }
  override def schema(): StructType = KVBinSource.schemaOf(statDefs)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      // writes carry columns the read schema lacks (`__cluster`), and a
      // (key, value) write to a stats table omits its virtual columns:
      // KVBinWriteBuilder validates the input schema itself
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the READ gate on the POLL `absent` marker: an endpoints scan of a
    // mistyped / not-yet-created table fails HERE — at planning, with
    // the table named — instead of planning a phantom 2-column schema
    // that only dies at read time. Writes never pass through
    // newScanBuilder, so the fresh-target contract is untouched.
    polledMeta.flatMap(_.get(KVBinNet.AbsentKey)).foreach { tbl =>
      throw new IllegalArgumentException(
        s"kvbin endpoints read: no table exists at " +
        s"${tableEndpoints.getOrElse("?")} (the store's directory '$tbl' " +
        s"has no _index) — check the endpoints; a WRITE to this fresh " +
        s"target is still allowed")
    }
    new KVBinScanBuilder(dir,
      Option(options.get("api_version")),
      Option(options.get("endpoints")),
      statDefs,
      // source-side key scope (hex, end exclusive): the STREAMING
      // escape — Spark's V2 pushdown rule does not visit micro-batch
      // relations (measured: a readStream key-range filter leaves
      // numInputRows at the full table), so a scoped tail declares its
      // range as reader options and the region pruning the batch path
      // gets from pushed filters applies to every micro-batch too.
      // Batch reads may also use them; pushed filters tighten further.
      Option(options.get("start_key_hex")).map(KVBin.unhex),
      Option(options.get("end_key_hex")).map(KVBin.unhex))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // a path commits through the filesystem index swap (endpoints, if
    // also present, serve the READ side); endpoints alone route the
    // write over the wire — PUT attempt frames + ONE framed COMMIT the
    // server lands through the identical KVBinCommit logic (r13)
    require(dir != null || tableEndpoints.isDefined,
      "kvbin writes need a 'path' or an 'endpoints' option")
    new KVBinWriteBuilder(dir, info, if (dir == null) tableEndpoints else None)
  }
}

/** The statistics a region-index row can answer WITHOUT opening the
  * region: record count, first key, last key (the index stores all
  * three; over the socket they arrive in the REGIONS metadata reply).
  * A pushed aggregate turns a "scan everything" plan into one that
  * ships three values per input partition (a key run of regions) — the
  * planner-integrated sibling of the protocol-level CHECKSUM verb. */
sealed trait KVBinAgg extends Serializable
object KVBinAgg {
  case object CountAll extends KVBinAgg
  case object MinKey extends KVBinAgg
  case object MaxKey extends KVBinAgg
  def field(a: KVBinAgg): StructField = a match {
    case CountAll => StructField("agg_count", LongType, nullable = false)
    case MinKey => StructField("agg_min_key", BinaryType, nullable = true)
    case MaxKey => StructField("agg_max_key", BinaryType, nullable = true)
  }
}

/** Accepts unsigned-lex range predicates on `key` and column pruning;
  * everything else stays with Spark as a post-scan filter. Whole-table
  * COUNT / MIN(key) / MAX(key) aggregates push down to the region
  * index (partial pushdown: one row per input partition, Spark folds
  * the final merge — sum of counts, min of mins, max of maxes). */
class KVBinScanBuilder(dir: String, expectedApiVersion: Option[String] = None,
                       endpoints: Option[String] = None,
                       statDefs: Seq[(String, String)] = Nil,
                       scopeStart: Option[Array[Byte]] = None,
                       scopeEnd: Option[Array[Byte]] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private var startKey: Array[Byte] = scopeStart.orNull  // inclusive
  private var endKey: Array[Byte] = scopeEnd.orNull      // exclusive
  private var endInclusive: Array[Byte] = null
  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = KVBinSource.schemaOf(statDefs)
  // inclusive [lo, hi] bound per declared stat column (strict long
  // bounds fold exactly: > v ≡ ≥ v+1) — region-prunes from the index
  // min/max AND row-filters in the reader, so the filter is consumed
  private val statLo = scala.collection.mutable.Map.empty[String, Long]
  private val statHi = scala.collection.mutable.Map.empty[String, Long]
  private def statNames = statDefs.map(_._1).toSet
  private def tightLo(c: String, v: Long): Unit =
    statLo.updateWith(c)(o => Some(o.fold(v)(math.max(_, v))))
  private def tightHi(c: String, v: Long): Unit =
    statHi.updateWith(c)(o => Some(o.fold(v)(math.min(_, v))))

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  private def tighterStart(k: Array[Byte]): Unit =
    if (startKey == null || KVBin.compare(k, startKey) > 0) startKey = k
  private def tighterEnd(k: Array[Byte], inclusive: Boolean): Unit =
    if (inclusive) {
      if (endInclusive == null || KVBin.compare(k, endInclusive) < 0) endInclusive = k
    } else {
      if (endKey == null || KVBin.compare(k, endKey) < 0) endKey = k
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual("key", v: Array[Byte]) => tighterStart(v); true
      case GreaterThan("key", v: Array[Byte]) =>
        // strict > on bytes: next key is v ‖ 0x00 (scan/scan.go:59's resume key)
        tighterStart(v :+ 0.toByte); true
      case LessThan("key", v: Array[Byte]) => tighterEnd(v, inclusive = false); true
      case LessThanOrEqual("key", v: Array[Byte]) => tighterEnd(v, inclusive = true); true
      case EqualTo("key", v: Array[Byte]) =>
        tighterStart(v); tighterEnd(v, inclusive = true); true
      case GreaterThanOrEqual(c, v: Long) if statNames(c) => tightLo(c, v); true
      case GreaterThan(c, v: Long) if statNames(c) && v < Long.MaxValue =>
        tightLo(c, v + 1); true
      case LessThanOrEqual(c, v: Long) if statNames(c) => tightHi(c, v); true
      case LessThan(c, v: Long) if statNames(c) && v > Long.MinValue =>
        tightHi(c, v - 1); true
      case EqualTo(c, v: Long) if statNames(c) =>
        tightLo(c, v); tightHi(c, v); true
      case _ => false
    }
    pushed = accepted
    rejected
  }

  /** (name order index, spec, lo, hi) per bounded stat. */
  private def statBounds: Seq[StatBound] =
    statDefs.zipWithIndex.collect {
      case ((n, spec), i) if statLo.contains(n) || statHi.contains(n) =>
        StatBound(i, n, spec,
          statLo.getOrElse(n, Long.MinValue), statHi.getOrElse(n, Long.MaxValue))
    }

  override def pushedFilters(): Array[Filter] = pushed

  private var aggCols: Option[Seq[KVBinAgg]] = None

  /** Index stats are whole-region truths: a pushed key range (or any
    * grouping) invalidates them, so those plans keep the row scan.
    * COUNT over any single column is COUNT(*) here — both schema
    * columns are non-nullable. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (startKey != null || endKey != null || endInclusive != null) return false
    if (statLo.nonEmpty || statHi.nonEmpty) return false
    if (aggregation.groupByExpressions.nonEmpty) return false
    def isKey(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference =>
          r.fieldNames.length == 1 && r.fieldNames()(0) == "key"
        case _ => false
      }
    def isAnyCol(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.length == 1 &&
          (r.fieldNames()(0) == "key" || r.fieldNames()(0) == "value")
        case _ => false
      }
    val mapped = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(KVBinAgg.CountAll)
      case c: Count if !c.isDistinct && isAnyCol(c.column) => Some(KVBinAgg.CountAll)
      case m: Min if isKey(m.column) => Some(KVBinAgg.MinKey)
      case m: Max if isKey(m.column) => Some(KVBinAgg.MaxKey)
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) false
    else { aggCols = Some(mapped.flatten); true }
  }

  private var limit: Option[Int] = None

  /** PARTIAL limit pushdown: each region reader stops after `limit`
    * rows (regions are key-sorted, so the first rows of every surviving
    * region are the candidates) and Spark applies the global limit over
    * the per-partition heads. Returning false keeps Spark's own Limit —
    * full pushdown would need a single-region guarantee. */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    false
  }

  override def build(): Scan =
    new KVBinScan(dir, startKey, endKey, endInclusive, requiredSchema,
      expectedApiVersion, endpoints, aggCols, limit, statDefs, statBounds)
}

/** One pushed stat-range predicate: stat `name` (index `i` in the
  * header order, evaluated by `spec`) must land in [lo, hi]. */
case class StatBound(i: Int, name: String, spec: String, lo: Long, hi: Long)

class KVBinScan(dir: String, start: Array[Byte], end: Array[Byte],
                endIncl: Array[Byte], required: StructType,
                expectedApiVersion: Option[String] = None,
                endpoints: Option[String] = None,
                agg: Option[Seq[KVBinAgg]] = None,
                limit: Option[Int] = None,
                statDefs: Seq[(String, String)] = Nil,
                statBounds: Seq[StatBound] = Nil)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  /** The session executing the scan: its hadoop conf ships to readers,
    * its `spark.sql.files.*` settings size the input partitions. */
  private def session = org.apache.spark.sql.SparkSession.active
  /** The session's hadoop configuration, shipped to readers —
    * executor-side `FileSystem.get` must see the cluster's FS settings
    * and credentials, not a default `Configuration()`. Resolved LAZILY
    * (first partition planning, driver side) from the session actually
    * executing the scan — capturing `SparkSession.active` at builder
    * construction would, in a multi-session JVM, ship the thread-local
    * active session's per-session `spark.hadoop.*` overrides to a query
    * owned by a different session. */
  private lazy val conf = new org.apache.spark.util.SerializableConfiguration(
    session.sessionState.newHadoopConf())
  /** The cluster connection, behind the [[RegionClient]] seam — this is
    * the only line a live (network) source implementation changes. */
  private lazy val client = RegionClient.connect(dir, endpoints, conf)
  override def readSchema(): StructType =
    agg.fold(required)(cols => StructType(cols.map(KVBinAgg.field)))
  override def toBatch: Batch = this

  /** Value equality over what the scan reads, so two scans built alike
    * are one scan to the planner: `BatchScanExec` compares `batch`, and
    * `toBatch` is this object, so `ReuseExchange` can share an exchange
    * over equal scans — the bucket digest that `prune(src)` and
    * `prune(dst)` both embed is computed once. The runtime key set stays
    * out: it arrives after planning, `BatchScanExec` compares its
    * runtime filters itself, and a hash must not change once planned. */
  private lazy val identity = {
    def bytes(b: Array[Byte]) = Option(b).map(_.toSeq)
    (dir, bytes(start), bytes(end), bytes(endIncl), required,
      expectedApiVersion, endpoints, agg, limit, statDefs, statBounds)
  }
  override def equals(o: Any): Boolean = o match {
    case s: KVBinScan => identity == s.identity
    case _ => false
  }
  override def hashCode(): Int = identity.hashCode

  override def description(): String = {
    def h(b: Array[Byte]) = if (b == null) "∅" else KVBin.hexOf(b)
    s"KVBinScan(dir=$dir, start=${h(start)}, end=${h(end)}, endIncl=${h(endIncl)}" +
      endpoints.map(e => s", endpoints=$e").getOrElse("") +
      agg.map(cs => s", PushedAggregates=[${cs.mkString(", ")}]").getOrElse("") +
      (if (statBounds.isEmpty) ""
       else s", PushedStatRanges=[${statBounds.map(b =>
         s"${b.name} in [${b.lo},${b.hi}]").mkString(", ")}]") + ")"
  }

  /** One region-metadata fetch per scan, shared by partition planning
    * and the planner's statistics probe (stats may be consulted several
    * times while the plan is optimized — each must not re-dial the
    * cluster). */
  private lazy val regionList = client.listRegions()

  /** Runtime join-key set, delivered by AQE's dynamic-pruning subquery
    * AFTER the broadcast side materializes (the DSv2 analog of dynamic
    * partition pruning): the scan advertises `key` as filterable, and a
    * selective broadcast join hands the build side's distinct keys here
    * before [[planInputPartitions]] runs. Region-GRANULAR and advisory:
    * a region survives iff some runtime key falls in its [min,max] — the
    * join itself still filters rows, so ignoring an unsupported filter
    * shape is always correct. */
  @volatile private var runtimeKeys: Option[Array[Array[Byte]]] = None

  override def filterAttributes(): Array[NamedReference] =
    if (agg.isDefined) Array.empty else Array(Expressions.column("key"))

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("key", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Array[Byte]]) =>
      runtimeKeys = Some(vs.map(_.asInstanceOf[Array[Byte]]))
    case EqualTo("key", v: Array[Byte]) => runtimeKeys = Some(Array(v))
    case _ => // advisory: unsupported shapes prune nothing
  }

  private def prunedRegions: Seq[RegionInfo] = regionList.filter { r =>
    KVBinSource.inScope(r, start, end, endIncl, statBounds) &&
    runtimeKeys.forall(_.exists(k =>
      KVBin.compare(k, r.minKey) >= 0 && KVBin.compare(k, r.maxKey) <= 0))
  }

  /** Region-index statistics for Catalyst's cost model: row count
    * (exact from the index's per-region counts when only whole regions
    * prune; an upper bound once stat bounds row-filter inside
    * survivors) and the serialized byte size
    * (region file lengths — PD's approximate_size analog; falls back to
    * 64 B/record when a client can't supply sizes). RANGE-pruned: a
    * pushed key range shrinks the estimate to the surviving regions, so
    * a narrow scan of a huge table correctly becomes broadcast-able.
    * This is what lets a join against a small kvbin table plan a
    * BroadcastHashJoin with no hint — without it DSv2 defaults to
    * "unknown = huge" and every kvbin join would shuffle. */
  override def estimateStatistics(): Statistics = {
    val regions = prunedRegions
    // EXACT only while nothing row-filters inside surviving regions: a
    // pushed stat bound drops rows the region index can't see, so the
    // per-region counts become an upper bound — still the right number
    // to feed the cost model (over-estimates never flip a safe
    // broadcast into an OOM), but not reported as exact
    val rows = if (agg.isDefined) regions.size.toLong else regions.map(_.nKeys).sum
    val bytes =
      if (agg.isDefined) math.max(32L * regions.size, 1L)
      else math.max(regions.map(_.sizeBytes).sum, 1L)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Region pruning, then packing: only regions whose [min,max]
    * intersects the pushed range (and whose stat box meets the pushed
    * stat ranges, and that hold a runtime key) are kept, and
    * [[KVBinSource.packed]] groups the survivors into input partitions. The
    * API-version gate runs first — a mismatched cluster fails the query
    * at planning time, before any region file is opened
    * (`checksum/checksum.go:134-137` analog). */
  override def planInputPartitions(): Array[InputPartition] = {
    val sourceVersion = client.clusterMeta()("api_version")
    expectedApiVersion.filter(_ != sourceVersion).foreach { e =>
      throw new IllegalStateException(
        s"kvbin api version mismatch: source $dir is $sourceVersion, reader expects $e")
    }
    agg match {
      // pushed aggregate: the ANSWER is already in the region metadata
      // — a partition carries its bin's three folded values, and no
      // region is ever opened (readers never call scanRegion).
      // pushAggregation rejects pushed key ranges, so prunedRegions ==
      // regionList here; using it anyway keeps the invariant local, and
      // the require makes any future relaxation fail loudly instead of
      // aggregating the whole table. Empty regions are skipped: their
      // sentinel min/max bounds must not feed pushed MIN/MAX (COUNT is
      // unaffected — they contribute 0).
      case Some(cols) =>
        require(start == null && end == null && endIncl == null,
          "kvbin pushed aggregate planned with a pushed key range")
        KVBinSource.packed(session, prunedRegions.filter(_.nKeys > 0)).map { bin =>
          KVBinAggInputPartition(bin.map(_.nKeys).sum,
            bin.map(_.minKey).min(KVBin.keyOrder),
            bin.map(_.maxKey).max(KVBin.keyOrder), cols): InputPartition
        }.toArray
      case None =>
        KVBinSource.packed(session, prunedRegions).map { bin =>
          KVBinInputPartition(client, bin.map(_.id), start, end, endIncl,
            required.fieldNames, limit.getOrElse(-1),
            statDefs.toMap, statBounds): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KVBinReaderFactory()

  /** The streaming half of the connector (SURVEY §2a rows 1-2 made
    * continuous): the stream TAILS the region index — regions present
    * at query start form the first micro-batch, and every committed
    * append's new regions become the next one, so the "continuous
    * compare" entries consume the house format live instead of a
    * parquet/MemoryStream stand-in. See [[KVBinMicroBatchStream]] for
    * the offset contract. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(agg.isEmpty,
      "kvbin streaming does not support pushed aggregates — aggregate " +
      "the stream Spark-side (stateful aggregation), where results can " +
      "fold across micro-batches")
    require(limit.isEmpty,
      "kvbin streaming ignores limits — apply them per micro-batch " +
      "Spark-side if head-of-stream sampling is really intended")
    new KVBinMicroBatchStream(dir, start, end, endIncl, required,
      expectedApiVersion, endpoints, statDefs, statBounds, conf)
  }
}

/** LEGACY streaming offset for UNSTAMPED tables = the SET of region
  * files already emitted, serialized as a sorted JSON array of file
  * names. Region files are immutable once committed and appends only
  * add index lines, so "everything in the index minus the offset set"
  * is exactly the new data. O(regions) checkpoint state, growing for
  * the stream's life — which is why stamped tables (every table this
  * writer has produced since the `#generation=` header landed) use
  * [[KVBinGenOffset]] instead: one long, bounded forever. This form
  * survives only for tables written before the stamp existed; such a
  * table must be APPEND-ONLY while tailed (a compaction renames
  * regions and the renamed files would re-emit — the same contract as
  * Spark's file source over rewritten files). */
case class KVBinStreamOffset(regions: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    // the roundtrip below hand-splits on ',' and strips quotes — a name
    // carrying either would corrupt checkpointed offsets on restart;
    // writer-generated names never do, so enforce it at serialization
    regions.foreach(r => require(!r.contains(",") && !r.contains("\""),
      s"kvbin offset region name contains ',' or '\"': $r"))
    regions.sorted.map(r => "\"" + r + "\"").mkString("[", ",", "]")
  }
}

object KVBinStreamOffset {
  def fromJson(json: String): KVBinStreamOffset = {
    val t = json.trim
    require(t.startsWith("[") && t.endsWith("]"), s"bad kvbin offset: $json")
    val inner = t.substring(1, t.length - 1).trim
    KVBinStreamOffset(
      if (inner.isEmpty) Nil
      else inner.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
  }
}

/** Generation-epoch streaming offset for STAMPED tables: "every region
  * born in generation ≤ `gen` of table `tableId` has been emitted."
  * ONE long of checkpoint state per micro-batch regardless of how many
  * regions (or years of appends) the table accumulates — the
  * production-shaped watermark the name-set offset only approximated.
  * The `tableId` pins table identity: a plain overwrite mints a new id,
  * so a checkpoint from the replaced table fails loudly instead of
  * silently continuing over unrelated data (the detection the name set
  * used to provide via vanished file names). */
case class KVBinGenOffset(tableId: String, gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    require(tableId.nonEmpty && tableId.matches("[0-9a-fA-F-]+"),
      s"kvbin table_id must be hex-dash shaped for the offset roundtrip, got '$tableId'")
    s"""{"tid":"$tableId","gen":$gen}"""
  }
}

object KVBinOffsets {
  private val GenShape = """\{"tid":"([0-9a-fA-F-]+)","gen":(-?\d+)\}""".r
  /** Checkpoint JSON → offset: `[...]` is the legacy name set, `{...}`
    * the generation epoch — both shapes deserialize forever, so a
    * checkpoint written by either era restarts cleanly. */
  def fromJson(json: String): org.apache.spark.sql.connector.read.streaming.Offset =
    json.trim match {
      case t if t.startsWith("[") => KVBinStreamOffset.fromJson(t)
      case GenShape(tid, g) => KVBinGenOffset(tid, g.toLong)
      case other => throw new IllegalArgumentException(s"bad kvbin offset: $other")
    }
}

/** Tails a kvbin table as micro-batches. Each poll re-reads the region
  * index through a FRESH [[RegionClient]] (the scan-time client caches
  * the index for plan stability — a tailing source must see appends);
  * pushed key ranges and stat bounds prune each batch's NEW regions,
  * and [[KVBinSource.packed]] packs them, exactly like the batch scan;
  * pruned-away regions still advance the offset so they are never
  * re-considered. The API-version gate
  * runs on every poll: an append cannot change the stamp (the writer
  * refuses), but a table REPLACED under the stream with a different
  * version must kill the query, not feed it mixed-version bytes.
  *
  * OFFSET CONTRACT. Stamped tables (any table this writer produced
  * since the `#generation=` header landed) tail on [[KVBinGenOffset]]:
  * the checkpoint carries one (table_id, generation) pair forever, a
  * batch is "regions born in (startGen, endGen]", and a COMPACTION
  * (preserve_meta rewrite, which stamps `#compacted_through=g` and
  * re-tags the rewritten regions with birth generation g) is ADOPTED
  * without re-emission by any tail whose checkpoint already drained
  * generation ≥ g — the long-lived-monitor shape: compact nightly under
  * a running tail, checkpoint stays one long. A compaction that folds
  * UNDRAINED generations (compacted_through > the checkpoint's
  * generation) still refuses loudly: the fold mixed unemitted rows into
  * regions the tail would skip. Unstamped legacy tables keep the
  * name-set offset and its strict append-only watchdog. A checkpoint of
  * either shape deserializes forever; a legacy checkpoint over a table
  * that has since been stamped transitions in one batch (emit stamped
  * regions minus the named set, checkpoint the epoch).
  *
  * One operational caveat at any scale: adoption is a PLANNING-time
  * contract. A micro-batch already EXECUTING when the compaction's
  * commit sweep reclaims the old generation's files fails its tasks
  * loudly (file vanished) and the query dies rather than mis-reads — a
  * production deployment defers the sweep by one poll interval to close
  * that window; the sandbox keeps the loud failure. */
class KVBinMicroBatchStream(dir: String, start: Array[Byte],
    end: Array[Byte], endIncl: Array[Byte], required: StructType,
    expectedApiVersion: Option[String], endpoints: Option[String],
    statDefs: Seq[(String, String)], statBounds: Seq[StatBound],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def connect(): RegionClient =
    RegionClient.connect(dir, endpoints, conf)

  /** Every region id this stream instance has ever listed — the
    * LEGACY append-only watchdog (unstamped tables only): the index
    * swap is atomic (writeIndexAtomic), so a poll can never see a
    * TRUNCATED index, but a compaction or overwrite legitimately
    * commits an index with previously-seen regions GONE. Tailing such a
    * table would silently re-emit the rewritten rows under new file
    * names; fail loudly instead. */
  @volatile private var everSeen: Set[String] = Set.empty
  /** Epoch watchdog state: last (table_id, generation) this instance
    * polled. A changed id or a decreased counter is a replaced table. */
  @volatile private var lastTid: String = null
  @volatile private var lastGen: Long = -1L

  override def initialOffset(): Offset = KVBinStreamOffset(Nil)

  override def latestOffset(): Offset = {
    val client = connect()
    // the POLL path: a quiet tail calls this every trigger, so on
    // stamped tables it must cost O(1) bytes — scalar headers only
    // (file client: the first index lines; wire: the POLL verb), never
    // the O(regions) index body or the gen.* file lists
    val meta = client.pollMeta()
    val sourceVersion = meta("api_version")
    expectedApiVersion.filter(_ != sourceVersion).foreach { e =>
      throw new IllegalStateException(
        s"kvbin api version mismatch: source $dir is $sourceVersion, " +
        s"stream expects $e")
    }
    (meta.get("generation"), meta.get("table_id")) match {
      case (Some(g0), Some(tid)) =>
        val g = g0.toLong
        if (everSeen.nonEmpty)
          throw new IllegalStateException(
            s"kvbin stream over $dir: an unstamped table this stream was " +
            "tailing was replaced by a generation-stamped one — the " +
            "name-set offsets cannot be reconciled with the new table. " +
            "Restart from a fresh checkpoint.")
        if (lastTid != null && tid != lastTid)
          throw new IllegalStateException(
            s"kvbin stream over $dir: table_id changed ($lastTid -> $tid) " +
            "— the table was overwritten while tailed. Restart from a " +
            "fresh checkpoint to tail the new table.")
        if (lastGen >= 0 && g < lastGen)
          throw new IllegalStateException(
            s"kvbin stream over $dir: generation moved backwards " +
            s"($lastGen -> $g) — the table was replaced while tailed. " +
            "Restart from a fresh checkpoint.")
        lastTid = tid; lastGen = g
        KVBinGenOffset(tid, g)
      case _ =>
        if (lastTid != null)
          throw new IllegalStateException(
            s"kvbin stream over $dir: the generation stamp vanished — the " +
            "stamped table this stream was tailing was replaced by an " +
            "unstamped one. Restart from a fresh checkpoint.")
        val now = client.listRegions().map(_.id)
        val vanished = everSeen -- now
        if (vanished.nonEmpty)
          throw new IllegalStateException(
            s"kvbin stream over $dir: regions ${vanished.toSeq.sorted.mkString(", ")} " +
            "disappeared from the index — the table was compacted or " +
            "overwritten while tailed. The streaming source requires an " +
            "append-only table; restart the stream from a fresh checkpoint " +
            "to adopt the rewritten generation.")
        everSeen ++= now
        KVBinStreamOffset(now.sorted)
    }
  }

  /** Shared stamped-table validation for the epoch and transition plan
    * paths: the table must carry a table_id matching EVERY checkpointed
    * epoch offset's, and every listed region must have a birth
    * generation. Returns the region→generation map. */
  private def stampedGens(meta: Map[String, String],
      regions: Seq[RegionInfo],
      offsetTids: Seq[String]): Map[String, Long] = {
    val tid = meta.getOrElse("table_id",
      throw new IllegalStateException(
        s"kvbin stream over $dir: checkpointed epoch offset, but the " +
        "table carries no table_id — it was replaced by an unstamped " +
        "table while the stream was down. Restart from a fresh checkpoint."))
    offsetTids.find(_ != tid).foreach { o =>
      throw new IllegalStateException(
        s"kvbin stream over $dir: checkpointed offset belongs to " +
        s"table_id $o, the table on disk is $tid — the table was " +
        "overwritten while the stream was down. Restart from a fresh " +
        "checkpoint to tail the new table.")
    }
    val gens = KVBin.regionGenerations(meta)
    val unstamped = regions.map(_.id).filterNot(gens.contains)
    if (unstamped.nonEmpty)
      throw new IllegalStateException(
        s"kvbin stream over $dir: regions ${unstamped.sorted.mkString(", ")} " +
        "carry no birth generation on a stamped table — either a " +
        "compaction raced this poll (its rewrite replaces the " +
        "per-generation file lists; retry or restart the stream) or " +
        "the index was edited outside the writer. Cannot plan this " +
        "batch safely.")
    gens
  }

  override def planInputPartitions(startO: Offset, endO: Offset)
      : Array[InputPartition] = {
    val client = connect()
    // regions BEFORE meta: over a socket the two reads are separate
    // wire calls, and an append landing between them must not make the
    // epoch path see a region the meta snapshot cannot explain. With
    // this order the meta snapshot is ≥ the region snapshot, and since
    // generation bookkeeping only accrues, every listed region has a
    // gen.* entry; a region committed after BOTH reads has a birth
    // generation > endO.gen and waits its turn. (The file client reads
    // both from one cached index snapshot — order is irrelevant there.)
    val regions = client.listRegions()
    val meta = client.clusterMeta()
    val due: Seq[RegionInfo] = (startO, endO) match {
      case (s: KVBinGenOffset, e: KVBinGenOffset) =>
        val gens = stampedGens(meta, regions, Seq(s.tableId, e.tableId))
        if (e.gen < s.gen)
          throw new IllegalStateException(
            s"kvbin stream over $dir: offset generations moved backwards " +
            s"(${s.gen} -> ${e.gen}) — the table was replaced while tailed.")
        // the compaction-adoption gate: a preserve_meta rewrite re-tags
        // its output with the fold point g and stamps compacted_through=g.
        // A checkpoint that drained ≥ g skips the rewrite naturally
        // (birth gen ≤ startGen); one that didn't must refuse — the fold
        // mixed rows this tail never emitted into regions it would skip
        val ct = meta.get("compacted_through").map(_.toLong).getOrElse(0L)
        if (ct > s.gen)
          throw new IllegalStateException(
            s"kvbin stream over $dir: the table was compacted through " +
            s"generation $ct but this checkpoint only drained generation " +
            s"${s.gen} — undrained generations were folded into the " +
            "rewrite. Restart from a fresh checkpoint to adopt the " +
            "rewritten table.")
        // the batch's own due set must be fully present: a rewrite racing
        // the latestOffset→plan window would under-deliver silently
        val expected = gens.collect {
          case (f, g) if g > s.gen && g <= e.gen => f }.toSet
        val missing = expected -- regions.map(_.id).toSet
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"kvbin stream over $dir: regions ${missing.toSeq.sorted.mkString(", ")} " +
            "were committed to this micro-batch's generation range but " +
            "vanished before planning — a rewrite raced the poll. Restart " +
            "from a fresh checkpoint.")
        regions.filter(r => { val g = gens(r.id); g > s.gen && g <= e.gen })
      case (s: KVBinStreamOffset, e: KVBinGenOffset) =>
        // transition batch: a legacy name-set checkpoint (or the initial
        // empty offset) over a stamped table — emit everything born
        // through e.gen except the already-named regions; from here on
        // the checkpoint is the epoch. The END offset's table identity
        // must match the table on disk: a WAL-replayed first batch
        // (crash before commit) against a table that was since plainly
        // overwritten would otherwise silently deliver the NEW table's
        // rows under the OLD table's offset — the replacement must fail
        // here, not one poll later
        val gens = stampedGens(meta, regions, Seq(e.tableId))
        val seen = s.regions.toSet
        val vanishedSeen = seen -- regions.map(_.id)
        if (vanishedSeen.nonEmpty)
          throw new IllegalStateException(
            s"kvbin stream over $dir: checkpointed offset names regions " +
            s"${vanishedSeen.toSeq.sorted.mkString(", ")} that are gone from " +
            "the index — the table was compacted or overwritten while the " +
            "stream was down. Restart from a fresh checkpoint to adopt " +
            "the rewritten generation.")
        regions.filter(r => gens(r.id) <= e.gen && !seen.contains(r.id))
      case (_: KVBinGenOffset, _: KVBinStreamOffset) =>
        throw new IllegalStateException(
          s"kvbin stream over $dir: the generation stamp vanished between " +
          "polls — the stamped table this stream was tailing was replaced " +
          "by an unstamped one. Restart from a fresh checkpoint.")
      case (so: KVBinStreamOffset, eo: KVBinStreamOffset) =>
        val seen = so.regions.toSet
        val target = eo.regions.toSet
        // the RESTART half of the legacy append-only watchdog: everSeen
        // only guards one instance's lifetime, but a checkpointed offset
        // can name regions a compaction removed while the stream was
        // DOWN — planning "index minus seen" against the rewritten index
        // would silently re-emit every rewritten row under its new name.
        // (endO always derives from a live poll, so only the START
        // offset can be stale.)
        val vanishedSeen = seen -- regions.map(_.id)
        if (vanishedSeen.nonEmpty)
          throw new IllegalStateException(
            s"kvbin stream over $dir: checkpointed offset names regions " +
            s"${vanishedSeen.toSeq.sorted.mkString(", ")} that are gone from " +
            "the index — the table was compacted or overwritten while the " +
            "stream was down. The streaming source requires an append-only " +
            "table; restart from a fresh checkpoint to adopt the rewritten " +
            "generation.")
        // and the batch's OWN due set: a compaction racing the
        // latestOffset→plan window would silently drop its regions from
        // this batch (they're in target but no longer in the index) — an
        // under-delivered batch the next poll's watchdog can't repair
        val missingDue = (target -- seen) -- regions.map(_.id).toSet
        if (missingDue.nonEmpty)
          throw new IllegalStateException(
            s"kvbin stream over $dir: regions ${missingDue.toSeq.sorted.mkString(", ")} " +
            "were committed to this micro-batch's offset range but vanished " +
            "before planning — a compaction/overwrite raced the poll. " +
            "Append-only contract violated; restart from a fresh checkpoint.")
        // only this batch's regions: the fresh index read may already be
        // AHEAD of endO (another append landed) — those wait their turn
        regions.filter(r => target.contains(r.id) && !seen.contains(r.id))
    }
    KVBinSource.packed(org.apache.spark.sql.SparkSession.active,
        due.filter(KVBinSource.inScope(_, start, end, endIncl, statBounds)))
      .map(bin => KVBinInputPartition(client, bin.map(_.id), start, end,
        endIncl, required.fieldNames, -1, statDefs.toMap, statBounds): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KVBinReaderFactory()
  override def deserializeOffset(json: String): Offset =
    KVBinOffsets.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A key-ordered run of regions, read one after another by one task.
  * All of them share the one `client`, so its hadoop conf is serialized
  * once per task, not once per region. The scope, stat bounds and
  * partial limit apply to each region. */
case class KVBinInputPartition(client: RegionClient, regionIds: Seq[String],
    start: Array[Byte], end: Array[Byte], endIncl: Array[Byte],
    columns: Array[String], limit: Int = -1,
    statSpecs: Map[String, String] = Map.empty,
    statBounds: Seq[StatBound] = Nil)
  extends InputPartition

/** One bin of regions' pushed-aggregate row (count sum, min of the
  * minimum keys, max of the maximum keys), fully resolved at planning
  * time from the region index — the executor task materializes a single
  * pre-computed row. */
case class KVBinAggInputPartition(nKeys: Long, minKey: Array[Byte],
    maxKey: Array[Byte], cols: Seq[KVBinAgg])
  extends InputPartition

class KVBinReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: KVBinAggInputPartition => new KVBinAggPartitionReader(p)
      case p: KVBinInputPartition => new KVBinPartitionReader(p)
      case other => throw new IllegalArgumentException(
        s"unknown kvbin partition: $other")
    }
}

/** Emits the one partial-aggregate row of a [[KVBinAggInputPartition]];
  * Spark's final aggregate folds the per-bin rows (sum/min/max). */
class KVBinAggPartitionReader(p: KVBinAggInputPartition)
    extends PartitionReader[InternalRow] {
  private var emitted = false
  override def next(): Boolean = if (emitted) false else { emitted = true; true }
  override def get(): InternalRow =
    new GenericInternalRow(p.cols.map {
      case KVBinAgg.CountAll => p.nKeys: Any
      case KVBinAgg.MinKey => p.minKey: Any
      case KVBinAgg.MaxKey => p.maxKey: Any
    }.toArray)
  override def close(): Unit = ()
}

/** Streams a partition's regions, one after another, through the
  * [[RegionClient]] seam, each scoped to the pushed range (records are
  * key-sorted, so the reader leaves a region at the range end) and
  * projecting the pruned columns IN THE PRUNED SCHEMA'S ORDER — a
  * (value, key)-ordered requiredSchema yields (value, key) rows, never
  * silently swapped binary columns. A region's iterator is closed as
  * the reader leaves it, drained or not, and the open one on `close()`. */
class KVBinPartitionReader(p: KVBinInputPartition) extends PartitionReader[InternalRow] {
  private val regions = p.regionIds.iterator
  private var it: Iterator[(Array[Byte], Array[Byte])] = Iterator.empty
  private var current: (Array[Byte], Array[Byte]) = _
  private var emitted = 0 // rows of the current region

  private def leaveRegion(): Unit = {
    it match {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
    it = Iterator.empty
  }

  override def next(): Boolean = {
    while (!nextInRegion()) {
      leaveRegion()
      if (!regions.hasNext) return false
      it = p.client.scanRegion(regions.next())
      emitted = 0
    }
    true
  }

  private def nextInRegion(): Boolean = {
    // pushed (partial) limit: the region is key-sorted, so its first
    // `limit` in-range rows are the only candidates — stop reading
    if (p.limit >= 0 && emitted >= p.limit) return false
    while (it.hasNext) {
      val rec = it.next()
      val k = rec._1
      if (p.start == null || KVBin.compare(k, p.start) >= 0) {
        val pastEnd = (p.end != null && KVBin.compare(k, p.end) >= 0) ||
          (p.endIncl != null && KVBin.compare(k, p.endIncl) > 0)
        if (pastEnd) return false // sorted region: nothing further can match
        // pushed stat ranges: stats are NOT key-ordered, so an
        // out-of-range record is skipped, never a stop
        if (p.statBounds.forall { b =>
          val x = KVBinStat.eval(b.spec, k, rec._2); x >= b.lo && x <= b.hi
        }) {
          current = rec
          emitted += 1
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow =
    new GenericInternalRow(Array.tabulate[Any](p.columns.length) { i =>
      p.columns(i) match {
        case "key" => current._1
        case "value" => current._2
        case other => p.statSpecs.get(other) match {
          case Some(spec) => KVBinStat.eval(spec, current._1, current._2)
          case None => throw new IllegalArgumentException(s"unknown kvbin column: $other")
        }
      }
    })

  override def close(): Unit = leaveRegion()
}
