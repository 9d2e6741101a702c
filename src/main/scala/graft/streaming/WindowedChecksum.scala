package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Checksum

/** Continuous-compare building block: the reference's checksum triple
  * (`checksum/checksum.go:25-29`) per event-time window, so two live KV
  * change streams can be compared window-by-window instead of
  * re-checksumming whole clusters.
  *
  * The same transform works on a batch frame or a `readStream` frame —
  * with a streaming source, pass a watermark so state for closed windows
  * is dropped and late rows beyond it are discarded (state per window is
  * just the 3-long triple, so steady-state memory is O(open windows)).
  * The crc64 XOR monoid commutes, so partial aggregation and arbitrary
  * arrival order cannot change a window's final triple.
  */
object WindowedChecksum {

  /** Per-window checksum over a frame with `tsCol` (TimestampType) and
    * binary `key`/`value` columns. Output: (w_start, w_end, crc64_xor,
    * total_kvs, total_bytes). */
  def apply(kv: DataFrame, tsCol: String, windowDur: String,
            watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(kv)(w => kv.withWatermark(tsCol, w))
    Checksum.fold(Checksum.triples(in, window(col(tsCol), windowDur).as("w")), col("w"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("crc64_xor"), col("total_kvs"), col("total_bytes"))
  }
}
