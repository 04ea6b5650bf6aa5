package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Occupancy accounting of the pair operators, defined once: the
  * aggregates over a count frame that holds one row per group (an LSH
  * (band, bucket), a shingle gram, a quantizer cell) with its size. The
  * operators put these on their count frames with `Dataset.observe`, so
  * the counters come from the execution that does the work and cost no
  * job; each all-capped guard reads `pairable`, `capped`, `capped_rows`
  * and `rows` from the same expressions in an exact re-aggregate of its
  * own (an accumulator may count a re-executed stage twice; Spark's
  * `Block … already exists` warning is not one, see [[Materialize]]).
  *
  * Read the counters with a `QueryExecutionListener` from
  * `qe.observedMetrics` (the `Pipeline.go` pattern). A cached count
  * frame posts its counters again in each later execution that reads
  * it, with the same values.
  *
  * | name                      | posted by                                      | fields |
  * |---------------------------|------------------------------------------------|--------|
  * | `graft.lsh.buckets`       | [[LshBlocking.candidatePairs]]                 | [[counters]] over (band, bucket) |
  * | `graft.lsh.pairs`         | [[LshBlocking.candidatePairs]]                 | `rows`: pairs after the screen and the cross-band dedup |
  * | `graft.lsh_cross.buckets` | [[LshBlocking.crossCandidatePairs]]            | [[counters]] over (band, bucket), pairable only with members on both sides; `b_rows`: the second frame's band rows |
  * | `graft.lsh_cross.pairs`   | [[LshBlocking.crossCandidatePairs]]            | `rows`: pairs after the screen and the cross-band dedup |
  * | `graft.shingle.grams`     | [[Dedup.sharedShingleEdges]] (materialized)    | [[counters]] over gram hash |
  * | `graft.shingle.edges`     | [[Dedup.sharedShingleEdges]] (materialized)    | `rows`: edges |
  * | `graft.semantic.cells`    | [[Dedup.semanticNearDupsFixedCells]]           | [[counters]] over quantizer cell |
  * | `graft.cc.nodes`          | [[Graph.connectedComponents]]                  | `rows`: distinct nodes |
  * | `graft.cc.round.<i>`      | [[Graph.connectedComponents]], distributed path | `rows`: edges after star-contraction round i (1-based) |
  */
private[ops] object Occupancy {

  /** BIGINT counters of a count frame whose group sizes are `n`, under
    * the cap `cap`: `rows` (rows counted into the groups), `groups`,
    * `max_group`, `pairable` (groups that `canPair` with 2..cap
    * members), `capped` (groups that `canPair` with more than cap),
    * `capped_rows`, and `pairs`/`capped_pairs`: the sum of `pairsOf`
    * over the pairable/capped groups, from sizes, never enumerated.
    * Zero, not NULL, over an empty frame. */
  def counters(n: Column, cap: Int, canPair: Column, pairsOf: Column): Seq[Column] = {
    val pairable = canPair && n.between(2, cap)
    val capped = canPair && n > cap
    def total(c: Column): Column = coalesce(sum(c), lit(0L))
    def where(p: Column, c: Column): Column = total(when(p, c).otherwise(lit(0L)))
    Seq(
      total(n).as("rows"),
      count(lit(1)).as("groups"),
      coalesce(max(n), lit(0L)).as("max_group"),
      where(pairable, lit(1L)).as("pairable"),
      where(capped, lit(1L)).as("capped"),
      where(capped, n).as("capped_rows"),
      where(pairable, pairsOf).as("pairs"),
      where(capped, pairsOf).as("capped_pairs"))
  }

  /** [[counters]] of a self-join: any group can pair, n·(n−1)/2 pairs
    * (the product is even, so the shift halves it exactly). */
  def selfCounters(n: Column, cap: Int): Seq[Column] =
    counters(n, cap, lit(true), shiftright(n * (n - 1), 1))

  /** `counts` with `counters` observed under `name`. */
  def observed(counts: DataFrame, name: String, counters: Seq[Column]): DataFrame =
    counts.observe(name, counters.head, counters.tail: _*)

  /** `df` with its row count observed under `name` as `rows`. */
  def counted(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("rows"))

  /** `counters` over `counts` in a job of their own (the guards). */
  def exact(counts: DataFrame, counters: Seq[Column]): Row =
    counts.agg(counters.head, counters.tail: _*).head()
}
