package graft.sources.kvbin

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import graft.functions.Checksum

/** Cluster-side (pushed) checksum over a kvbin source — the engine form
  * of the reference's flagship bandwidth win: the CRC64 fold runs
  * INSIDE each storage node (`checksum/checksum.go:83`:
  * `rawkvClient.Checksum` per sub-range) and the client merges one
  * `{crc64_xor, total_kvs, total_bytes}` triple per region
  * (`checksum/checksum.go:87-91`, merge `25-29`) — the wire never
  * carries region data.
  *
  * Spark's V2 aggregate pushdown can't express `bit_xor(crc64(k,v))`
  * (it pushes only min/max/count/sum over stored columns), so the push
  * happens through the [[RegionClient.checksumRegion]] seam instead:
  * the driver lists regions (the PD metadata scan), a tiny Spark job
  * fans one RPC per region across executors — the reference's
  * worker-pool fan-out (`checksum/checksum.go:78-95`) — and Catalyst
  * folds the triples through the XOR/sum/sum monoid ([[Checksum.fold]]).
  * At 100 TB this moves 24 bytes per region instead of the region: the
  * shuffle input is O(#regions), not O(data). */
object KVBinChecksum {

  /** One `(crc64_xor, total_kvs, total_bytes)` row per region, each
    * computed at the source by [[RegionClient.checksumRegion]] — the
    * triple rows [[graft.functions.Checksum.verdictFromTriples]] takes,
    * so a verdict over two pushed sides runs both sides' RPCs in one
    * job. */
  def regionTriples(spark: SparkSession, dir: String,
                    endpoints: Option[String]): DataFrame = {
    val sconf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val client = RegionClient.connect(dir, endpoints, sconf)
    // driver-side planning: region enumeration (captures the owner map
    // for multi-endpoint clients before the closure serializes `client`)
    val regionIds = client.listRegions().map(_.id)
    import spark.implicits._
    spark.createDataset(regionIds)
      // one region per task up to the session's parallelism: each task
      // issues exactly one CHECKSUM RPC, the executor-side analog of the
      // reference's bounded worker pool
      .repartition(math.max(1, math.min(regionIds.size,
        spark.sparkContext.defaultParallelism)))
      .map(id => client.checksumRegion(id))
      .toDF()
  }

  /** One-row `(crc64_xor, total_kvs, total_bytes)` frame for the whole
    * source, computed from per-region server-side triples. Identical
    * result (and column contract) to `Checksum.of` over the same
    * snapshot — the oracle for both is the same SQL. */
  def pushed(spark: SparkSession, dir: String,
             endpoints: Option[String]): DataFrame =
    Checksum.fold(regionTriples(spark, dir, endpoints))
}
