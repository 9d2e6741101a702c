package graft.operators

import org.apache.spark.sql.DataFrame

/** Session-scoped memo of corpus row counts — the "chooser stats
  * piggyback": every occupancy-adaptive chooser (MinHash banding, SRP
  * band width, semantic-dedup auto-k, the ED-Join budget) needs
  * n = |corpus|, and ~6 entry points would each pay one extra count()
  * ACTION per invocation even though a session's gates run over the
  * same few corpora. One count per (session, corpus plan, input
  * fingerprint) serves the whole family; the key and lifetime rules
  * are [[Memo]]'s, so a rewritten or appended input is counted afresh,
  * and [[Dedup.clearCaches]] clears this memo too. The memo saves
  * scheduler round-trips and input re-scans, never a shuffle — a count
  * is scalar-wide — so the cached value is exactly what the dropped
  * job would have produced. */
object CorpusCount {
  private val memo = new Memo[Long](32)

  /** `df.count()`, memoized by [[Memo]]. */
  def of(df: DataFrame): Long = memo(df)(df.count())

  def clear(): Unit = memo.clear()
}
