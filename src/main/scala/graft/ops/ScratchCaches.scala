package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry for SCRATCH caches — intermediate tables the dedup/ANN ops
  * persist internally because Catalyst does not reuse exchanges across
  * self-join aliases (the dd2/dd3/dd4 persist discipline; the persisted
  * subtree is referenced by the RETURNED lazy plan, so the op itself
  * cannot unpersist without forcing evaluation and hiding the plan).
  *
  * Per-query batch sessions never need this: the process exits and the
  * caches die with it. A LONG-LIVED session (a [[graft.server.SparqlServer]]
  * host, a notebook, a multi-stage pipeline driver) must release scratch
  * caches after materializing each op's result, or the cache manager
  * accumulates orphaned tables until LRU eviction starts thrashing real
  * working sets:
  *
  * {{{
  *   val pairs = Dedup.ngramJaccardPairs(docs, 8, 10)
  *   pairs.write.parquet(out)   // materialize FIRST
  *   ScratchCaches.releaseAll() // then release (non-blocking unpersist)
  * }}}
  *
  * Releasing before the consuming action is safe but wasteful: the plan
  * recomputes the subtree (correctness is never at stake). An op whose
  * result does not read its scratch releases it itself and does not
  * register it ([[Dedup.dupClusters]], and [[Dedup.minhashLshPairs]]
  * and [[Dedup.simhashPairs]] when they answer on the driver).
  */
object ScratchCaches {
  private val tracked =
    scala.collection.mutable.LinkedHashSet[DataFrame]()
  @volatile private var retainFlag = false

  /** Register a persisted scratch frame; returns it for chaining. */
  private[graft] def track(df: DataFrame): DataFrame = synchronized {
    tracked += df; df
  }

  /** Scratch frames registered since the last release. */
  def activeCount: Int = synchronized(tracked.size)

  /** Session-scoped scratch RETENTION. Default off: [[releaseAll]]
    * releases. Turn it on when several related ops run over the same
    * corpus in one session (dd2→dd7→dd10 style pipelines): the shared
    * scratch (tokenized docs, signature tables) stays cached and the
    * later ops run 2–4× faster (BASELINE.md release-on/off A/B), at
    * the cost of executor storage memory held until a forced release.
    * Prefer the scoped [[retained]] over toggling by hand.
    */
  def retain: Boolean = retainFlag
  def setRetain(on: Boolean): Unit = retainFlag = on

  /** Run `body` with retention ON; restores the previous mode and (when
    * retention was previously off) force-releases at exit — so a
    * pipeline block keeps its warm scratch across ops, and nothing
    * leaks past the block:
    *
    * {{{
    *   ScratchCaches.retained {
    *     val pairs = Dedup.ngramJaccardPairs(docs, 8, 10)
    *     val clusters = Dedup.dupClusters(pairs)   // reuses warm scratch
    *     Dedup.dedupApply(docs, clusters).write.parquet(out)
    *   } // scratch released here
    * }}}
    */
  def retained[T](body: => T): T = {
    val prev = retainFlag
    retainFlag = true
    try body
    finally {
      retainFlag = prev
      if (!prev) releaseAll(force = true)
    }
  }

  /** Non-blocking unpersist of every tracked scratch frame. Call after
    * the consuming action (write/collect) of the op that produced them.
    * A no-op while retention is on, unless `force` — the end-of-
    * pipeline release that overrides retention.
    */
  def releaseAll(force: Boolean = false): Unit = synchronized {
    if (force || !retainFlag) {
      tracked.foreach(_.unpersist())
      tracked.clear()
    }
  }
}
