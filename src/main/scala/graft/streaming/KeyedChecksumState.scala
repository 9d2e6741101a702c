package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.functions.RawChecksum

/** Custom streaming state via `mapGroupsWithState`: a continuously
  * maintained checksum triple PER KEY GROUP over a stream of KV change
  * records — the incremental form of the reference's whole-range
  * checksum (`checksum/checksum.go:25-29`): because the triple is a
  * commutative monoid, folding each micro-batch's records into the
  * stored state yields exactly the checksum of everything seen so far,
  * regardless of arrival order or batch boundaries.
  *
  * State per group is 3 longs + the group key — O(groups) memory, no
  * growth with stream length. Emits the updated triple for every group
  * touched in a micro-batch (OutputMode.Update).
  */
object KeyedChecksumState {

  case class KVRecord(group: String, key: Array[Byte], value: Array[Byte])
  case class GroupChecksum(group: String, crc64_xor: Long, total_kvs: Long, total_bytes: Long)

  def update(group: String, recs: Iterator[KVRecord],
             state: GroupState[RawChecksum]): GroupChecksum = {
    val merged = RawChecksum.fold(recs.map(r => (r.key, r.value)),
      state.getOption.getOrElse(RawChecksum.zero))
    state.update(merged)
    GroupChecksum(group, merged.crc64_xor, merged.total_kvs, merged.total_bytes)
  }

  /** Apply to a streaming (or batch) Dataset of KV change records.
    * Use with `OutputMode.Update`. */
  def apply(records: Dataset[KVRecord]): Dataset[GroupChecksum] = {
    import records.sparkSession.implicits._
    records.groupByKey(_.group)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
  }

  val outputMode: OutputMode = OutputMode.Update()
}
