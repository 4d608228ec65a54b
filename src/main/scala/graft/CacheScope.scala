package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifetime scope for the intermediates that multi-join pipelines
  * (dedup pair scans, ANN index builds) persist internally. The
  * library persists signature/gram/vector tables because they feed
  * 2–3 joins each; without a scope those cached blocks outlive the
  * call and accumulate across a long-lived session. A caller that
  * composes several pipeline calls wraps them:
  *
  * {{{
  * CacheScope.withScope { implicit scope =>
  *   val pairs = DedupApi.minhashPairs(docs, "doc_id", "text")
  *   pairs.write.parquet(out) // materialize INSIDE the scope
  * } // all intermediates unpersisted here
  * }}}
  *
  * The default (no implicit in scope) is [[CacheScope.untracked]]:
  * persists are left alive, and batch entry points clear them with
  * [[Harness.dropAllBlocks]] between queries (what Verify/Bench
  * do). Results must be materialized before the scope closes —
  * unpersist is lazy-safe (recompute, not failure) but forfeits the
  * reuse the persist paid for. Hence the two rules for code in this
  * project:
  *  - a library function that persists takes the CALLER's scope,
  *    `(implicit scope: CacheScope = CacheScope.untracked)`, and
  *    never opens its own: it returns a lazy frame, so a scope it
  *    opened would release every intermediate before the caller runs
  *    the plan;
  *  - a query builder returns a lazy frame and opens no scope; its
  *    persists are untracked, and whoever runs the query drops its
  *    blocks afterwards with [[Harness.dropAllBlocks]].
  */
final class CacheScope private[graft] (track: Boolean) {
  private val acquired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private[graft] def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (track) synchronized { acquired += p }
    p
  }

  /** Number of intermediates currently tracked (0 for untracked). */
  def trackedCount: Int = synchronized(acquired.size)

  /** Unpersist everything this scope persisted (non-blocking). */
  def release(): Unit = synchronized {
    acquired.foreach(_.unpersist(false))
    acquired.clear()
  }
}

object CacheScope {
  /** Leak-by-default scope for harness entry points that drop blocks
    * between queries; library callers should prefer [[withScope]]. */
  val untracked: CacheScope = new CacheScope(false)

  def withScope[A](f: CacheScope => A): A = {
    val scope = new CacheScope(true)
    try f(scope) finally scope.release()
  }
}
