package graft.operators

/** Counter of memo consultations (hits AND builds) across every
  * [[Memo]] ([[Dedup]]'s shingle-index and verified-pair memos,
  * [[CorpusCount]]). One purpose: let the bench harness detect which
  * queries are MEMO-BACKED — for every other
  * query cold ≡ warm, so a cache-cold arm is pure duplicated work.
  * Round 14's bench ran the cold arm over all 293 queries and blew the
  * driver's 60-minute budget (BENCH_r14.json rc=124); scoping it to
  * the queries whose warm run actually touched a memo keeps the
  * cold-vs-warm signal (the only queries where the two differ) at a
  * fraction of the cost.
  *
  * `touches` is monotonic; callers diff it around a query run. Every
  * memo call bumps it, including one whose input fingerprint could not
  * be taken and so built uncached. */
object MemoStats {
  val touches = new java.util.concurrent.atomic.AtomicLong(0L)
  def touch(): Unit = { touches.incrementAndGet(); () }
}
