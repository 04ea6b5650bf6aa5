package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Partition-count pinning for WORK-heavy exchanges (optimization
  * guide §2.5): AQE's coalescing sizes post-shuffle partitions by
  * shuffle BYTES, which is right for byte-bound stages but serializes
  * stages whose per-row cost dwarfs its bytes — a banded pair join's
  * output is quadratic in rows per bucket, and a signature projection
  * runs ~10⁴-10⁵ hash ops per row. Exchanges introduced with an
  * EXPLICIT partition count (`repartition(n, cols)`) are exempt from
  * AQE coalescing, so the heavy operator keeps cluster-wide
  * parallelism while every byte-bound exchange in the plan stays
  * AQE-managed.
  *
  * The count is the session's `spark.sql.shuffle.partitions` — the
  * knob cluster operators already size to their parallelism (the
  * bench driver sets it to the core count, so low-core contract runs
  * scale down automatically). Not a fixed constant: scale-adaptive by
  * configuration, local-mode correct by default.
  */
object Par {
  /** Explicit partition count for work-pinned exchanges. */
  def pinned(df: DataFrame): Int = {
    val ss = df.sparkSession
    try ss.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: Exception => ss.sparkContext.defaultParallelism }
  }

  /** Planned physical partition count of `df`, read without running
    * anything. -1 when it cannot be known so: a streaming frame (no
    * static partitioning), or a physical plan holding an exchange, an
    * adaptive plan, a cached scan or a subquery — building the RDD of
    * any of those runs their upstream jobs (AQE materializes every
    * shuffle stage to learn the final partition count). A plan of
    * narrow operators over its scans builds its RDD without a job. */
  private def plannedPartitions(df: DataFrame): Int =
    if (df.isStreaming) -1
    else try {
      val plan = df.queryExecution.executedPlan
      val runsJobs = plan.exists {
        case _: Exchange | _: AdaptiveSparkPlanExec | _: InMemoryTableScanExec => true
        case p => p.subqueries.nonEmpty
      }
      if (runsJobs) -1 else df.queryExecution.toRdd.getNumPartitions
    } catch { case _: Exception => -1 }

  /** Keyed repartition to the pinned count ONLY when the input's
    * planned parallelism is under a QUARTER of it — the conditional
    * form of the work-spread (r22, resolving the r21 chunker-shuffle
    * contradiction): heavy map-only operators (chunkers, sink-side
    * row encodes) must not pay an unconditional full shuffle of the
    * corpus, because at 100 TB their scan is already thousands of
    * tasks wide and the shuffle is the textbook guide-§2 anti-pattern.
    * The single-task problem the spread fixes only exists for inputs
    * whose SCAN cannot parallelize (one small file / one parquet row
    * group — splitting via maxPartitionBytes cannot help there, since
    * row groups are the atomic split unit), so the spread fires
    * exactly when the planner says the input is that narrow. A
    * streaming frame never spreads here (no static partition count;
    * per-trigger parallelism is the source's business). */
  def spreadNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = pinned(df)
    val parts = plannedPartitions(df)
    if (parts >= 0 && parts * 4 <= target) df.repartition(target, key)
    else df
  }
}
