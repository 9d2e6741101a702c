package graft.sources.kvbin

import org.apache.spark.util.SerializableConfiguration

import graft.functions.RawChecksum

/** One region entry — the only shape the kvbin layer records a region
  * in: id (the region file name and scan handle), key bounds, record
  * count, serialized byte size and stamped stat [min, max] ranges (in
  * `#stats` header order) — what a PD `GetAllRegions` row carries
  * (`checksum/checksum.go:52-57`'s region enumeration; PD's
  * `approximate_size` is the `bytes` analog). The same value is
  *  - an `_index` line ([[KVBin.readIndex]], [[KVBin.regionLine]]);
  *  - the commit manifest a write task publishes ([[KVBinCommitMessage]],
  *    with `bytes = -1`: the writer does not size its file);
  *  - the REGIONS and COMMIT wire frame ([[KVBinNet.writeRegion]]);
  *  - what planning, pruning and packing consume.
  * `bytes = -1` means the producer cannot cheaply know it (a commit
  * manifest, an index read without a file listing, an in-memory test
  * client); consumers read [[sizeBytes]], which falls back to a
  * per-record estimate. */
case class RegionInfo(id: String, minKey: Array[Byte], maxKey: Array[Byte],
                      nKeys: Long, bytes: Long = -1L,
                      stats: Seq[(Long, Long)] = Nil) {
  /** `bytes`, or 64 B per record when the client cannot size it. */
  def sizeBytes: Long = if (bytes >= 0) bytes else nKeys * 64L
}

/** The connector's live-source seam — everything [[KVBinScan]] needs
  * from "the cluster", and nothing else:
  *
  *  - [[clusterMeta]] ≙ the cluster-level metadata probe (API version
  *    gate, `utils/utils.go:13-26`);
  *  - [[listRegions]] ≙ the PD region-metadata scan that drives
  *    partition planning;
  *  - [[scanRegion]] ≙ the server-side key-ordered region scan
  *    (`scan/scan.go:45`) — called on EXECUTORS, so implementations
  *    must be serializable and must not capture driver-only state.
  *
  * [[FileRegionClient]] is the file-backed implementation this sandbox
  * runs on; a network implementation dialing the `endpoints` option
  * (gRPC to PD + store nodes) plugs in at [[RegionClient.connect]]
  * without touching the planner or reader — KVBinSpec drives the scan
  * machinery through a purely in-memory client to pin that the
  * machinery is client-agnostic. */
trait RegionClient extends Serializable {
  /** Cluster-level metadata; must include `api_version`. */
  def clusterMeta(): Map[String, String]
  /** SCALAR cluster metadata for the streaming tail's poll — at least
    * `api_version` and (on stamped tables) `generation`/`table_id`/
    * `compacted_through`, WITHOUT the O(regions) per-generation file
    * lists. A quiet tail polls every trigger; this call must stay O(1)
    * in table size. Defaults to [[clusterMeta]] for clients where meta
    * is already cheap; file and socket clients override. */
  def pollMeta(): Map[String, String] = clusterMeta()
  /** All regions, with key bounds for pruning. Driver-side, once per scan. */
  def listRegions(): Seq[RegionInfo]
  /** Key-ordered records of one region. Executor-side. An iterator that
    * holds a resource (an open file, a socket) should also be a
    * `java.io.Closeable`: the partition reader closes it as soon as it
    * leaves the region, drained or not. */
  def scanRegion(regionId: String): Iterator[(Array[Byte], Array[Byte])]
  /** One region's checksum triple computed AT THE SOURCE — the
    * reference's server-side checksum RPC (`checksum/checksum.go:83`:
    * the client receives three longs per range, never the range's
    * bytes). The default folds the local scan (bit-identical semantics)
    * for clients whose source already IS local; network clients
    * override with the wire verb so region bytes never cross the wire.
    * Executor-side. */
  def checksumRegion(regionId: String): RawChecksum =
    RawChecksum.fold(scanRegion(regionId))
}

object RegionClient {
  /** The dial point. `endpoints` is the cluster address list
    * (comma-separated, `config/config.go:30-31`): one `host:port` runs
    * through [[SocketRegionClient]]; several run through
    * [[MultiSocketRegionClient]], which unions each store's region
    * answer and routes per-region work to its owner — planning metadata
    * and region payloads flow over the wire either way (loopback in
    * this sandbox; the protocol doesn't care). `endpoints=None` — the
    * snapshot-read case — and non-address values stay on the
    * file-backed client. */
  def connect(dir: String, endpoints: Option[String],
              conf: SerializableConfiguration): RegionClient =
    endpoints.map(_.split(",").map(_.trim).filter(_.matches(".+:\\d+")).toSeq)
        .getOrElse(Seq.empty) match {
      case Seq(addr) => new SocketRegionClient(addr)
      case addrs if addrs.size > 1 => new MultiSocketRegionClient(addrs)
      case _ => new FileRegionClient(dir, conf)
    }
}

/** Region files + index sidecar on a Hadoop filesystem. The index is
  * read once per client (lazily, driver-side), and so is the listing
  * that sizes the regions; executors deserialize only (dir, conf) and
  * stream their one region file. [[KVBinServer]] serves through one of
  * these, replaced whenever the `_index` changes. */
class FileRegionClient(dir: String, conf: SerializableConfiguration)
    extends RegionClient {
  // ONE index read per client for meta + regions (stat ranges included)
  @transient private lazy val index = KVBin.readIndexFile(dir, conf.value)
  /** Index entries sized by their file lengths, one listStatus (the
    * serialized-size stat a planner consumes; framing included, like
    * PD's approximate_size). */
  @transient private lazy val regions: Seq[RegionInfo] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf.value)
    val lens = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(st => st.getPath.getName -> st.getLen).toMap
    index._2.map(r => r.copy(bytes = lens.getOrElse(r.id, -1L)))
  }
  override def clusterMeta(): Map[String, String] = index._1
  /** The poll path never touches the index body (or the gen.* lists):
    * a fresh client per poll would otherwise pay a full O(regions)
    * index read per trigger on a quiet tail. */
  override def pollMeta(): Map[String, String] =
    KVBin.readPollMeta(dir, conf.value)
  override def listRegions(): Seq[RegionInfo] = regions
  override def scanRegion(regionId: String)
      : Iterator[(Array[Byte], Array[Byte])] with java.io.Closeable =
    KVBin.readFile(dir, regionId, conf.value)
}
