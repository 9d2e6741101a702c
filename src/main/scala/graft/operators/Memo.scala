package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Session-scoped memo of one value derived from a DataFrame — the
  * materialize-once policy behind [[Dedup]]'s shingle index and
  * verified-pair frames and [[CorpusCount]]'s corpus sizes: a curation
  * run makes several passes over ONE corpus, and every pass after the
  * first is served the value the first one built.
  *
  * Key: (session, canonicalized analyzed plan, input fingerprint,
  * params). The plan alone is not enough — a file read canonicalizes to
  * its root path + schema and a kvbin read carries no content signal,
  * so an in-place rewrite would keep its key. The fingerprint is what a
  * rewrite must change:
  *  - file relations: (path, length, mtime) of every leaf file the
  *    relation's file index already listed when the frame was read — no
  *    extra filesystem call; a fresh read of a rewritten path lists new
  *    files, a fresh read of an unchanged path lists the same ones;
  *  - kvbin tables: the live (table_id, generation) from the `_index`
  *    header or the store's POLL ([[graft.sources.kvbin.KVBinTable.liveEpoch]]);
  *    every `KVBin.write` mints a fresh table_id and every commit moves
  *    the generation.
  * A fingerprint that cannot be taken (an unreachable store, a missing
  * index) DEGRADES the call to an uncached build — the probe is a
  * freshness check, not part of the query's contract, and the build
  * fails or succeeds with the query's own semantics.
  *
  * Entries of stopped sessions (per `stopped`; a spec substitutes a
  * fake) are pruned on every lookup, so a restarted session is never
  * served a checkpoint whose blocks died with the old context. At most `bound` entries are kept, oldest
  * evicted first: a long-lived session deduping many corpora must not
  * pin every frame's checkpoint blocks — dropping the reference lets
  * the ContextCleaner reclaim them once the frame is GC'd. The build
  * runs OUTSIDE the lock (it is a Spark job); a rare concurrent
  * double-build is benign — both produce the same value, one wins the
  * slot. Every call counts one [[MemoStats.touch]]. */
final class Memo[V](bound: Int,
                    stopped: SparkSession => Boolean = _.sparkContext.isStopped) {
  private val entries = scala.collection.mutable.LinkedHashMap.empty[Memo.Key, V]

  /** The memoized value of `build` for `df` under `params`. */
  def apply(df: DataFrame, params: Any*)(build: => V): V = {
    MemoStats.touch()
    val fingerprint =
      try Memo.fingerprint(df)
      catch { case NonFatal(_) => return build }
    val key = Memo.Key(df.sparkSession, df.queryExecution.analyzed.canonicalized,
      fingerprint, params)
    entries.synchronized {
      entries.filterInPlace { case (k, _) => !stopped(k.session) }
      entries.get(key)
    } match {
      case Some(v) => v
      case None =>
        val built = build
        entries.synchronized {
          val out = entries.getOrElseUpdate(key, built)
          while (entries.size > bound) entries.remove(entries.head._1)
          out
        }
    }
  }

  def clear(): Unit = entries.synchronized { entries.clear() }
}

object Memo {
  private final case class Key(session: SparkSession, plan: LogicalPlan,
                               fingerprint: Seq[Any], params: Seq[Any])

  /** The input fingerprint of every file and kvbin leaf of `df`'s plan
    * (see [[Memo]]); other leaves (local rows, checkpoints, ranges)
    * are fully identified by the plan itself. */
  private def fingerprint(df: DataFrame): Seq[Any] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location match {
          case index: PartitioningAwareFileIndex => index.allFiles()
              .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
              .sorted
          case _ => Nil
        }
        case _ => Nil
      }
      case r: DataSourceV2Relation => r.table match {
        case t: graft.sources.kvbin.KVBinTable => Seq(t.liveEpoch)
        case _ => Nil
      }
    }.flatten
}
