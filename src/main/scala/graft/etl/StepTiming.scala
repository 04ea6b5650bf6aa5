package graft.etl

import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Per-step wall-time attribution from the executed plan's own metrics.
  *
  * Spark fuses pipeline steps into whole-stage-codegen'd spans, so the
  * exact per-step wall time the reference reports (`Step.groovy:24,
  * 47-50`) is not observable. What IS observable: [[Pipeline.go]] wraps
  * every rejecting step in `observe` and the physical
  * `CollectMetricsExec` node is a codegen boundary — the plan therefore
  * decomposes into segments delimited by exactly the steps we need to
  * attribute to, and each `WholeStageCodegenExec` span publishes its
  * `pipelineTime` metric (ms summed across tasks) after the action.
  *
  * Attribution: a rejecting step's observe sits BELOW its keep-filter
  * (the counter must see the step's input), so the segment between
  * observe k and observe k+1 holds step k's own predicate plus the
  * MapSteps up to step k+1 — every step in that declaration-order range
  * reports the segment's duration (fused steps in one segment are
  * individually indistinguishable by construction). A step's `pre`
  * projection also sits below its observe, so it lands in the segment
  * BEFORE the step: a typed step's conversion (`asInt`, `asDate`, ...)
  * is charged to the previous rejecting step, or, for the first
  * rejecting step, to the scan side. The plan below the first observe
  * (the source scan) is charged to the steps before the first
  * rejecting step, or to the first rejecting step when there are none. Times are executor pipeline milliseconds summed over parallel
  * tasks — NOT wall-clock (`LoadStatistic.durationMs` is) — and within
  * one pipelined stage the codegen clock smears time across spans that
  * pull from each other, so intra-stage values are a rough split;
  * segments separated by an exchange are attributed soundly. Still
  * strictly more informative than the round-2 behavior (every fused
  * step = the whole action's duration). For a join step the joined
  * flow's spans land in the join's segment — the join "includes" the
  * work of materializing its other side.
  *
  * The executed plan is the one of [[Pipeline.go]]'s single action: the
  * `count()`, or the write of a trailing `save(path)` fused into it. In
  * the fused case the save step itself is reported with the action's
  * wall time (it is the whole run), not a codegen segment.
  */
private[etl] object StepTiming {

  /** Children with AQE wrappers unwrapped to the final physical plan. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec       => Seq(q.plan)
    case other                   => other.children
  }

  private def descendants(p: SparkPlan): Iterator[SparkPlan] =
    Iterator(p) ++ kids(p).iterator.flatMap(descendants)

  /** Total whole-stage-codegen duration (ms, task-summed) at/below p. */
  private def codegenBelow(p: SparkPlan): Long =
    descendants(p).collect { case w: WholeStageCodegenExec =>
      w.metrics.get("pipelineTime").map(_.value).getOrElse(0L)
    }.sum

  /** Segment the executed plan at the observe boundaries and attribute
    * durations to step names.
    *
    * @param root     executed plan AFTER the action completed
    * @param observes (stepIndex, observationName) in declaration order
    * @param stepNames all step names by index
    * @return per-step ms, or None when attribution isn't possible
    *         (no observes, a pruned observe node, or zero recorded
    *         codegen time) — caller falls back to the action duration
    */
  def segments(
      root: SparkPlan,
      observes: Seq[(Int, String)],
      stepNames: Vector[String]): Option[Map[String, Long]] = {
    if (observes.isEmpty) return None
    val cumByName = descendants(root).collect {
      case c: CollectMetricsExec => c.name -> codegenBelow(c)
    }.toMap
    if (!observes.forall { case (_, n) => cumByName.contains(n) }) return None
    val total = codegenBelow(root)
    if (total <= 0L) return None

    // cumulative codegen ms below each observe; monotone by
    // construction (each observe's subtree contains the previous
    // one's) — clamped anyway
    val cums = observes.foldLeft(Vector.empty[(Int, Long)]) {
      case (acc, (idx, name)) =>
        acc :+ (idx -> math.max(cumByName(name), acc.lastOption.map(_._2).getOrElse(0L)))
    }
    val out = scala.collection.mutable.Map.empty[String, Long]
    // segment k: step k's own predicate + MapSteps up to the next
    // rejecting step (or the plan top)
    cums.zipWithIndex.foreach { case ((idx, cum), k) =>
      val (endIdx, endCum) =
        if (k + 1 < cums.length) cums(k + 1) else (stepNames.length, total)
      val seg = math.max(endCum - cum, 0L)
      (idx until endIdx).foreach(i => out(stepNames(i)) = seg)
    }
    // scan-side plan (below the first observe): charged to the steps
    // before the first rejecting step, else folded into the first
    // rejecting step itself
    val (firstIdx, firstCum) = cums.head
    if (firstIdx == 0) out(stepNames(0)) = out.getOrElse(stepNames(0), 0L) + firstCum
    else (0 until firstIdx).foreach(i => out(stepNames(i)) = firstCum)
    Some(out.toMap)
  }
}
