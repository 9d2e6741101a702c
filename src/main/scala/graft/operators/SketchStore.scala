package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-RUN sketch persistence through the house kvbin connector —
  * the incremental corpus-monitor contract: a nightly run builds its
  * wave's sketch cells (HLL registers, bitmap block words, CMS
  * counters) and APPENDS them to a kvbin table; any later run re-reads
  * the persisted waves and folds cells with the sketch's merge law
  * (max for HLL, bit_or for bitmaps, sum for CMS), so the estimate
  * stages ([[Sketches.hllEstimate]], [[Sketches.hllOverlapEstimates]],
  * [[Sketches.bitmapEstimate]], [[Sketches.cmsHeavyHittersFromSketch]])
  * are oblivious to how many runs produced the state. Because the
  * merges are commutative monoids over per-(g, slot) cells, the
  * merged table is EXACTLY the one-shot build over the union of the
  * waves' inputs — the gated entries' oracles are the plain one-shot
  * replays, making the persistence roundtrip + merge a proved
  * identity, not a best-effort approximation. The cells need not be
  * sketches at all: q_ann_ivf_persist stores an IVF codebook's
  * IEEE-754 long bits as single-wave cells, turning the store into a
  * bit-exact model-parameter registry.
  *
  * At 100 TB the payoff is the re-scan this avoids: each wave scans
  * only ITS slice once; the persisted state is |G|·m cells (KBs per
  * group), and pricing NDV / overlap / distinct over the full history
  * reads only those cells. Appends commit via the connector's atomic
  * `_index` swap, so a reader (or the streaming tail) racing a wave's
  * commit sees whole generations only.
  *
  * A LIFETIME of nightly waves accumulates |waves|·|G|·m cells with no
  * natural bound — [[compactWaves]] is the fold-to-baseline remedy:
  * all waves ≤ a cut are merged into ONE baseline wave with the
  * sketch's own law (monoid ⇒ every downstream estimate is provably
  * unchanged), folded wave ids stay refusable forever through the
  * reserved `!waves` registry rows, and the rewrite commits as a
  * preserve_meta kvbin generation — the compaction shape the streaming
  * watchdog adopts when drained and refuses when not. */
object SketchStore {

  private def fmt = classOf[graft.sources.kvbin.KVBinSource].getName

  /** Reserved key prefix for the wave REGISTRY — rows
    * `!waves/<wave>/000000000000 -> 0|1` recording every wave id ever
    * persisted (1 = live, 0 = folded into a baseline). '!' (0x21)
    * sorts before every legal wave character, so registry rows occupy
    * the table's head and a registry read is one range-pruned scan of
    * the first region(s). Written by [[compactWaves]] (whose rewrite
    * destroys the append-era invariant that each wave heads its own
    * region); ordinary appends don't need it — their generation's
    * region min keys carry the wave prefix. */
  private[graft] val WavesRegistry = "!waves"

  /** Every wave id the table has ever persisted: the region-index min
    * keys' prefixes (each APPENDED wave heads at least one region of
    * its own generation) unioned with the `!waves` registry (which
    * preserves ids through a [[compactWaves]] rewrite). One driver-side
    * index read plus — only when a registry exists — one range-pruned
    * scan of the registry rows (|waves| tiny records, never the cells). */
  private def everPersisted(s: SparkSession, table: String): Set[String] = {
    val conf = s.sessionState.newHadoopConf()
    val fromIndex = scala.util.Try(
        graft.sources.kvbin.KVBin.readIndex(table, conf)).toOption
      .getOrElse(Nil)
      .map(r => new String(r.minKey, "UTF-8").takeWhile(_ != '/')).toSet
    val fromRegistry =
      if (!fromIndex.contains(WavesRegistry)) Set.empty[String]
      else s.read.format(fmt).option("path", table).load()
        .filter(col("key") >= lit(s"$WavesRegistry/".getBytes("UTF-8")) &&
          col("key") < lit((WavesRegistry + "0").getBytes("UTF-8")))
        .select(element_at(split(decode(col("key"), "UTF-8"), "/"), 2))
        .collect().map(_.getString(0)).toSet
    (fromIndex - WavesRegistry) ++ fromRegistry
  }

  /** Persist one wave's sketch cells (g, slot, v: long) as one kvbin
    * generation. Key = `<wave>/<g>/<slot as %012d>` (text — `g` and
    * `wave` must not contain '/', slot must be non-negative: both are
    * asserted IN-PLAN so a violating wave fails its write job rather
    * than corrupting the key order); value = the cell's 8 bytes,
    * big-endian, declared as a `cell:v_be64@0` stat so the read half
    * decodes it as a virtual long column with no byte surgery — and
    * the index sidecar carries per-region cell min/max for free.
    * `mode` "overwrite" starts the table, "append" adds a wave. */
  def writeWave(cells: DataFrame, table: String, wave: String,
                mode: String): Unit = {
    require(!wave.contains("/") && wave.nonEmpty && !wave.startsWith("!"),
      s"wave id must be non-empty, '/'-free and not start with the " +
      s"reserved '!' namespace, got '$wave'")
    // a RE-appended wave id double-counts under the sum law (and
    // silently no-ops under max/or — same cells twice): refuse ids the
    // table has EVER persisted, live or compacted away
    if (mode == "append") {
      val existing = everPersisted(cells.sparkSession, table)
      require(!existing.contains(wave),
        s"SketchStore: wave '$wave' already persisted in $table — " +
        "appending it again would double-count sum-merged cells. Use a " +
        "fresh wave id per run (waves present: " +
        s"${existing.toSeq.sorted.mkString(", ")})")
    }
    val gStr = col("g").cast("string")
    // empty-string rider: evaluates per row, raises on a violating one.
    // Null g / null slot must trip the SAME loud gate — a null would
    // otherwise make the when() condition null, fall to otherwise(), and
    // hand the kvbin writer a silently-null key
    // v too: a null register value would otherwise sail through (hex(
    // null) → null value column) and surface only inside the executor-
    // side kvbin writer, or as a silent null plane in DoubleBits reads
    val gate = when(gStr.isNull || col("slot").isNull || col("v").isNull ||
        gStr.contains("/") || col("slot") < 0,
      raise_error(concat(lit("SketchStore: g must be non-null and " +
        "'/'-free, slot non-null and non-negative, v non-null, got g="),
        coalesce(gStr, lit("NULL"))))).otherwise(lit(""))
    // once the table declares the `cell` stat, V2 byName resolution
    // demands the virtual column in the input too — the writer ignores
    // its values (stats re-derive from the record bytes), so ship the
    // cell itself: honest placeholder, zero extra compute
    val statCols =
      if (graft.sources.kvbin.KVBinSource.statDefs(table).nonEmpty)
        Seq(col("v").cast("long").as("cell"))
      else Nil
    cells.select(Seq(
        encode(concat(lit(wave + "/"), gStr, lit("/"),
          format_string("%012d", col("slot")), gate), "UTF-8").as("key"),
        unhex(lpad(hex(col("v")), 16, "0")).as("value")) ++ statCols: _*)
      .write.format(fmt).option("path", table)
      .option("stats", "cell:v_be64@0").option("ranges", "4")
      .option("api_version", "V1").mode(mode).save()
  }

  /** Persisted cells as (wave, g, slot, v), registry rows excluded —
    * the raw per-wave stream behind [[readMerged]] and [[compactWaves]],
    * public for sketches whose cross-wave merge is NOT a scalar
    * per-cell monoid (the slot-sample quantile registers fold by
    * min-over-a-(hash, value) PAIR: such a sketch reads its waves'
    * cells here, reassembles its composite registers per wave, and
    * applies its own law — the store stays a generic long-cell log,
    * composite laws live with their sketch). */
  def readCells(s: SparkSession, table: String): DataFrame = cellsOf(s, table)

  private def cellsOf(s: SparkSession, table: String): DataFrame =
    s.read.format(fmt).option("path", table).load()
      .select(split(decode(col("key"), "UTF-8"), "/").as("parts"),
        col("cell"))
      .select(element_at(col("parts"), 1).as("wave"),
        element_at(col("parts"), 2).as("g"),
        element_at(col("parts"), 3).cast("long").as("slot"),
        col("cell").as("v"))
      .filter(col("wave") =!= WavesRegistry)

  /** Read EVERY persisted wave and fold cells across waves with
    * `merge` (max / bit_or / sum — the sketch's own law). Output
    * (g, slot, v): the shape [[writeWave]] took, feeding the estimate
    * stages unchanged. One kvbin scan of the persisted cell rows — the
    * corpus itself is never touched. */
  def readMerged(s: SparkSession, table: String,
                 merge: Column => Column): DataFrame =
    cellsOf(s, table)
      .groupBy(col("g"), col("slot"))
      .agg(merge(col("v")).as("v"))

  /** Fold every wave with id ≤ `throughWave` (string order — date-shaped
    * ids sort correctly) into ONE baseline wave `into`, merging cells
    * with the sketch's own law; waves above the cut carry over
    * unchanged. Because the law is a commutative monoid over (g, slot)
    * cells, fold(all) = fold(fold(≤cut), rest) — every [[readMerged]]
    * estimate is EXACTLY unchanged (spec-proved for max / bit_or /
    * sum), so a nightly monitor can compact a year of waves into one
    * baseline and keep appending.
    *
    * Folded wave ids remain REFUSABLE forever: the rewrite records
    * every id it has ever seen in the `!waves` registry (0 = folded,
    * 1 = live), and [[writeWave]]'s double-count check reads the
    * registry alongside the index. The rewrite commits as ONE
    * preserve_meta kvbin generation — table_id and stats survive,
    * `#compacted_through` is stamped, so a streaming tail of the
    * sketch table adopts the rewrite when drained and refuses when
    * not, exactly like any other kvbin compaction. */
  def compactWaves(s: SparkSession, table: String, throughWave: String,
                   merge: Column => Column, into: String): Unit = {
    require(!into.contains("/") && into.nonEmpty && !into.startsWith("!"),
      s"baseline wave id must be non-empty, '/'-free and not start " +
      s"with '!', got '$into'")
    val ever = everPersisted(s, table)
    require(!ever.contains(into),
      s"SketchStore: baseline wave id '$into' was already persisted in " +
      s"$table — pick a fresh id (waves present: ${ever.toSeq.sorted.mkString(", ")})")
    val cells = cellsOf(s, table)
    // the wave census is bounded by |waves| (driver-side, like the
    // append check) — the CELLS never leave executors
    val waves = cells.select(col("wave")).distinct()
      .collect().map(_.getString(0)).toSeq
    val folded = waves.filter(_ <= throughWave)
    if (folded.isEmpty) return // nothing below the cut: a no-op
    val baseline = cells.filter(col("wave") <= lit(throughWave))
      .groupBy(col("g"), col("slot")).agg(merge(col("v")).as("v"))
      .select(lit(into).as("wave"), col("g"), col("slot"), col("v"))
    val kept = cells.filter(col("wave") > lit(throughWave))
    // registry: every id ever seen — previously-registered ones (their
    // data may already be gone), the ids folded now (0), the kept and
    // baseline ids (1)
    import s.implicits._
    val live = (waves.filter(_ > throughWave) :+ into).toSet
    val registry = (ever ++ waves + into).toSeq.sorted
      .map(w => (WavesRegistry, w, 0L, if (live(w)) 1L else 0L))
      .toDF("wave", "g", "slot", "v")
    val rows = registry.unionByName(baseline).unionByName(kept)
      .select(
        encode(concat(col("wave"), lit("/"), col("g"), lit("/"),
          format_string("%012d", col("slot"))), "UTF-8").as("key"),
        unhex(lpad(hex(col("v")), 16, "0")).as("value"),
        col("v").cast("long").as("cell"))
    rows.write.format(fmt).option("path", table)
      .option("stats", "cell:v_be64@0").option("ranges", "4")
      .option("preserve_meta", "true")
      // a tail's in-flight micro-batch may still be reading the old
      // generation: leave its files for one commit (the next wave's
      // append reclaims them as orphans) instead of failing those tasks
      .option("defer_sweep", "true")
      .mode("overwrite").save()
  }
}
