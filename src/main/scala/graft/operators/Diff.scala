package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's `diff` subcommand re-expressed as a key join
  * (`diff/diff.go:18-63`).
  *
  * The reference compares the two clusters POSITIONALLY in lock-step
  * batches and resumes both sides from src's last key (`diff/diff.go:59`)
  * — which misaligns permanently after a single inserted/deleted key.
  * The join formulation implements the *intended* semantics
  * (`README.md:7` "output the diff of key/value") and is the
  * scale-correct plan: a full-outer sort-merge join on the key, no
  * driver-side pagination, no collects.
  *
  * At 100 TB both sides shuffle-partition on `key`; with pre-bucketed
  * snapshots the shuffle disappears entirely. AQE handles skew.
  */
object Diff {

  /** Full diff classification. Input frames must have columns
    * (key, value) of matching types (binary or string).
    * Output: key, src_value, dst_value, diff_class ∈
    * {src_only, dst_only, mismatch} — equal pairs are dropped
    * (the reference prints only differing pairs, `diff/diff.go:47-55`). */
  def diff(src: DataFrame, dst: DataFrame): DataFrame = {
    val s = src.select(col("key"), col("value").as("src_value"))
    val d = dst.select(col("key"), col("value").as("dst_value"))
    s.join(d, Seq("key"), "full_outer")
      .withColumn("diff_class",
        when(col("src_value").isNull, "dst_only")
          .when(col("dst_value").isNull, "src_only")
          .when(col("src_value") =!= col("dst_value"), "mismatch")
          .otherwise("equal"))
      .filter(col("diff_class") =!= "equal")
      .select(col("key"), col("src_value"), col("dst_value"), col("diff_class"))
  }

  /** Checksum-pruned diff — the scale form of [[diff]] for the common
    * case where the two snapshots are ALMOST identical (the reference's
    * whole reason to exist). [[diff]] shuffles both full datasets even
    * when zero rows differ; at 100 TB that one shuffle dominates. This
    * form first reduces each side to per-bucket checksum digests (the
    * reference's per-region checksum report, `checksum/checksum.go:89-90`
    * — a map-side-combined aggregate whose shuffle is 4 longs per
    * bucket), full-outer-joins the two tiny digest frames to find
    * buckets whose (crc64_xor, count, bytes) triple differs, and runs
    * the full [[diff]] only over rows hashing into those buckets — a
    * broadcast semi-join, so the equal bulk of both datasets is
    * filtered at the scan and never shuffles.
    *
    * Every differing key perturbs its bucket's digest, so the output
    * equals diff(src, dst) exactly — unless a crc64-xor collision makes
    * a differing bucket look equal (probability ~2^-64 per bucket, the
    * same trust the reference's own checksum verdict rests on). Size
    * `buckets` so a single bucket's rows fit comfortably in one task:
    * the re-diffed volume is (changed buckets / buckets) of the data. */
  def checksumPrunedDiff(src: DataFrame, dst: DataFrame,
                         buckets: Int = 4096): DataFrame = {
    import graft.functions.Checksum
    // cast-through-binary makes the same bucketing apply to string- and
    // binary-typed KV frames (xxhash64 of a string hashes its UTF-8
    // bytes, but being explicit costs nothing)
    def bucketOf(key: Column): Column =
      pmod(xxhash64(key.cast("binary")), lit(buckets.toLong))
    def digest(kv: DataFrame, side: String): DataFrame =
      Checksum.sided(Checksum.byBucket(
          kv.select(col("key").cast("binary").as("key"),
            col("value").cast("binary").as("value")),
          bucketOf(col("key"))), side, "bucket")
    val changed = digest(src, "src").join(digest(dst, "dst"), Seq("bucket"), "full_outer")
      .filter(col("src_crc64_xor").isNull || col("dst_crc64_xor").isNull ||
        !Checksum.matches("src", "dst"))
      .select(col("bucket").as("__bucket"))
    // a row with a null key or value has no crc64 digest (the checksum
    // excludes it from all three components), so no bucket mismatch can
    // ever flag it — route such rows to the diff unconditionally instead
    // of pruning them, keeping pruned ≡ full on degenerate inputs
    // (genuine KV frames contain neither)
    def prune(kv: DataFrame): DataFrame =
      kv.filter(col("key").isNotNull && col("value").isNotNull)
        .withColumn("__bucket", bucketOf(col("key")))
        .join(broadcast(changed), Seq("__bucket"), "left_semi")
        .drop("__bucket")
        .unionAll(kv.filter(col("key").isNull || col("value").isNull))
    diff(prune(src), prune(dst))
  }

  /** Keys present in src but not dst — left_anti join, no value compare
    * (cheaper than the full diff when only presence matters). */
  def srcOnly(src: DataFrame, dst: DataFrame): DataFrame =
    src.join(dst.select("key"), Seq("key"), "left_anti")

  /** Symmetric difference on (key, value) pairs — one row per pair
    * present on exactly one side, `side ∈ {src, dst}`. Derived from ONE
    * [[diff]] pass: src_only → the src row, dst_only → the dst row, a
    * mismatch → both rows (that key's src and dst pairs each exist on
    * only their own side). The set-ops formulation
    * ([[symmetricDiffSetOps]]) computes the identical rows with two
    * `exceptAll` passes = four full shuffles of both snapshots; this
    * form pays the full-outer join's one shuffle per side and emits the
    * two mismatch rows with an explode — at 100 TB that is the
    * difference between shuffling each snapshot once and twice.
    *
    * Assumes the KV contract ([[diff]]'s input): keys unique and
    * non-null per side. On general multisets (repeated or null-keyed
    * rows) use [[symmetricDiffSetOps]], whose bag semantics are the
    * honest answer there; DiffLawsSpec pins the two equal on KV input. */
  def symmetricDiff(src: DataFrame, dst: DataFrame): DataFrame = {
    def one(value: Column, side: String): Column =
      array(struct(value.as("value"), lit(side).as("side")))
    diff(src, dst)
      .select(col("key"), explode(
        when(col("diff_class") === "src_only", one(col("src_value"), "src"))
          .when(col("diff_class") === "dst_only", one(col("dst_value"), "dst"))
          .otherwise(concat(one(col("src_value"), "src"),
            one(col("dst_value"), "dst")))).as("__e"))
      .select(col("key"), col("__e.value").as("value"), col("__e.side").as("side"))
  }

  /** Symmetric difference via set ops (two `exceptAll` passes) — the
    * general-multiset formulation and [[symmetricDiff]]'s spec twin
    * (SURVEY.md §2b set-ops row). */
  def symmetricDiffSetOps(src: DataFrame, dst: DataFrame): DataFrame =
    src.exceptAll(dst).withColumn("side", lit("src"))
      .unionAll(dst.exceptAll(src).withColumn("side", lit("dst")))

  /** Per-class counts — the reference's running mismatch counter
    * (`diff/diff.go:48`) as an aggregate. */
  def diffCounts(src: DataFrame, dst: DataFrame): DataFrame =
    diff(src, dst).groupBy(col("diff_class")).agg(count(lit(1)).as("n"))

  /** MERGE / upsert: apply a keyed changelog to a base snapshot —
    * [[diff]]'s inverse, and the lakehouse CDC-apply primitive. The
    * changelog carries (key, value, seq, op) with op ∈ {U, D}: per
    * key the highest-seq record wins (base rows enter at seq 0), a
    * winning D deletes the key, a winning U upserts its value.
    *
    * One hash-partitioned union + per-key window — the same shuffle
    * shape as [[diff]] itself, so everything said there about
    * bucketing/skew applies. With `changes = diff(src, dst)` recast
    * as a changelog, `applyChangelog(src, changes) == dst` exactly —
    * the identity q_merge_upsert gates and DiffLawsSpec pins. */
  def applyChangelog(base: DataFrame, changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = base.select(col("key"), col("value"),
      lit(0L).as("seq"), lit("U").as("op"))
    val c = changes.select(col("key"), col("value"), col("seq"), col("op"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("seq").desc, col("op")) // op tiebreak: D before U at equal seq
    b.unionByName(c)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") === "U")
      .select(col("key"), col("value"))
  }

  /** Recast a [[diff]] output as the changelog that turns src into
    * dst: dst_only → insert, mismatch → update (both op U with dst's
    * value), src_only → delete. */
  def diffAsChangelog(d: DataFrame, seq: Long = 1L): DataFrame =
    d.select(col("key"), col("dst_value").as("value"), lit(seq).as("seq"),
      when(col("diff_class") === "src_only", "D").otherwise("U").as("op"))

  /** Incremental view maintenance for additive aggregates: maintain the
    * per-bucket (row count, value bytes) summary of dst from the SRC
    * summary plus the [[diff]] changelog — never rescanning dst, the
    * additive-group twin of [[graft.functions.Checksum]]'s XOR delta
    * (`q_checksum_delta`). Each diff row contributes a signed delta
    * (insert +1/+len, delete −1/−len, update ±len difference); the
    * delta aggregate is |changes|-sized, so maintenance cost scales
    * with the CHANGE RATE, not the table — the whole point of IVM at
    * 100 TB. `bucketOf` must be a deterministic function of the key. */
  def maintainAgg(src: DataFrame, changes: DataFrame,
                  bucketOf: Column => Column): DataFrame = {
    val base = src
      .groupBy(bucketOf(col("key")).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(length(col("value"))).as("bytes"))
    val delta = changes
      .select(bucketOf(col("key")).as("bucket"),
        when(col("diff_class") === "dst_only", lit(1L))
          .when(col("diff_class") === "src_only", lit(-1L))
          .otherwise(lit(0L)).as("dn"),
        (when(col("dst_value").isNotNull, length(col("dst_value"))).otherwise(lit(0))
          - when(col("src_value").isNotNull, length(col("src_value"))).otherwise(lit(0)))
          .cast("long").as("dbytes"))
      .groupBy(col("bucket"))
      .agg(sum(col("dn")).as("dn"), sum(col("dbytes")).as("dbytes"))
    base.join(delta, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("bytes"), lit(0L)) + coalesce(col("dbytes"), lit(0L))).as("bytes"))
      .filter(col("n") > 0)
  }

  /** Incremental view maintenance for an EQUI-JOIN view (the classic
    * counting/delta rule — Blakeley, Larson & Tompa SIGMOD'86; the
    * single-level DBToaster rule): maintain V = R ⋈ S under signed
    * delta relations without ever re-joining the full new inputs. The
    * mixed old/new formulation avoids the ΔR ⋈ ΔS cross term exactly:
    *
    *   V_new = V_old ⊎ (ΔR ⋈ S_new) ⊎ (R_old ⋈ ΔS)
    *
    * (expand (R+ΔR)⋈(S+ΔS) and fold ΔR⋈(S_old+ΔS) into ΔR⋈S_new).
    * All frames are BAGS with explicit multiplicity: `vOld` carries
    * `n ≥ 1` per distinct row, `dR`/`dS` carry `m = ±1` per change
    * (an update is a −1 old row and a +1 new row); the result is the
    * new view's census — distinct rows with their net n, rows at
    * n ≤ 0 gone.
    *
    * Scale: the whole point is that the DELTA joins carry the change
    * rate, not the table — ΔR ⋈ S_new and R_old ⋈ ΔS each broadcast
    * the |Δ|-sized side into one scan of the other relation, and no
    * R_new ⋈ S_new shuffle ever happens. The final ⊎ (a group-sum on
    * the view columns) touches V_old once; at 100 TB that apply step
    * is a partitioned merge into the STORED view — the same
    * generation-merge shape as the kvbin streaming sink — while the
    * delta computation stays |Δ|-sized. `rOld`/`dR` must share a
    * schema (key + R columns), `sNew`/`dS` likewise (key + S columns);
    * the view's columns are their union. */
  def maintainJoin(vOld: DataFrame, rOld: DataFrame, dR: DataFrame,
                   sNew: DataFrame, dS: DataFrame, key: String): DataFrame = {
    val viewCols = vOld.columns.filter(_ != "n").map(col).toSeq
    val dvR = dR.join(sNew, key)
      .select((viewCols :+ col("m").as("n")): _*)
    val dvS = rOld.join(dS, key)
      .select((viewCols :+ col("m").as("n")): _*)
    vOld.select((viewCols :+ col("n")): _*)
      .unionByName(dvR).unionByName(dvS)
      .groupBy(viewCols: _*)
      .agg(sum(col("n")).as("n"))
      .filter(col("n") > 0)
  }
}
