package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Where graft keeps computed rows, decided once: every persist in
  * `src/main` goes through here.
  *  - Storage level MEMORY_AND_DISK: a block that does not fit in
  *    memory spills to local disk instead of being dropped.
  *  - Release: a [[scoped]] frame is unpersisted when its body ends,
  *    also when it throws. An [[eager]] result is an RDD persist outside
  *    the `CacheManager`; the `ContextCleaner` frees its blocks once the
  *    returned frame is unreachable, as it freed a local checkpoint's.
  *  - Lineage is kept: a lost block is recomputed from the plan that
  *    made it instead of failing the job. The one truncation left is
  *    [[Graph.connectedComponents]]' star-contraction rounds, each
  *    computed from the last: a kept lineage would grow one round per
  *    iteration, up to `maxIter`.
  *
  * Concurrent stages that read a scoped frame before it is stored (both
  * sides of a self-join over it) make Spark log `Block rdd_<id>_<p>
  * already exists on this machine`: the second task waited on the
  * block's write lock and read the stored block. The partition ran
  * once, so an observed counter on the frame counts it once.
  */
object Materialize {

  private val level = StorageLevel.MEMORY_AND_DISK

  /** Runs `body` with `frames` persisted in order, and releases them in
    * reverse (a frame cached over an earlier one goes first) when it
    * ends, also when it throws. */
  def scoped[A](frames: DataFrame*)(body: => A): A =
    try {
      frames.foreach(_.persist(level))
      body
    } finally frames.reverseIterator.foreach(_.unpersist(blocking = false))

  /** `df` computed now, in the one job `localCheckpoint(true)` runs,
    * its rows kept for every later read, with its lineage. */
  def eager(df: DataFrame): DataFrame =
    Bridge.keptRows(df, "materialize") { rows =>
      val kept = rows.persist(level)
      // no job for no partitions, as a local checkpoint runs none
      if (kept.getNumPartitions > 0) kept.count()
      kept
    }

  /** The pair operators' shared ending: materialize `pairs` with
    * `scratch` persisted, run `guard` on the exact occupancy of `counts`
    * when no pair came out, and release `scratch`.
    *
    * Ordering (r21): an all-capped guard can only fire on an empty pair
    * set (no pairable group ⇒ the semi-join keeps nothing ⇒ no pair), so
    * it runs after the materialization and only then. Guard-first paid
    * the banding (gram, cell) pipeline once for the guard and again for
    * the pairs; this order runs it once, and the common non-empty path
    * pays one `take(1)` on the kept pairs. The occupancy is an exact
    * re-aggregate, not the observed counters: Spark may apply a
    * re-executed stage's accumulator updates twice. */
  private[ops] def guardedPairs(pairs: DataFrame, scratch: Seq[DataFrame],
      counts: DataFrame, counters: Seq[Column])(guard: Row => Unit): DataFrame =
    scoped(scratch: _*) {
      val result = eager(pairs)
      if (result.isEmpty) guard(Occupancy.exact(counts, counters))
      result
    }
}
