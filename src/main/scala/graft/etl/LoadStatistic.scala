package graft.etl

/** Result of running a pipeline with [[Pipeline.go]].
  *
  * Mirrors the observable surface of the reference's LoadStatistic
  * (gratum `src/main/groovy/gratum/etl/LoadStatistic.groovy:12-19`):
  * loaded row count, rejections keyed by category and step, wall-clock
  * duration, per-step timings. Timing approximation: Spark executes
  * fused whole-stage-codegen'd plans, so [[Pipeline.go]] attributes the
  * plan's per-span `pipelineTime` metrics to steps by segmenting at the
  * rejecting steps' observe boundaries (see [[StepTiming]]) — steps
  * fused into one segment share its value, a step's `pre` projection
  * (a typed step's conversion) is charged to the segment before the
  * step, and values are executor pipeline ms summed over parallel
  * tasks, not wall-clock; sinks and
  * branches (separate actions) report their own wall time (documented
  * deviation, SURVEY.md §4). A trailing `save(path)` that [[Pipeline.go]]
  * runs as its one action reports that action's wall time, i.e. the
  * whole run's read, transform and write, not the write alone.
  */
final case class LoadStatistic(
    name: String,
    loaded: Long,
    rejectionsByCategory: Map[RejectionCategory, Map[String, Long]],
    durationMs: Long,
    stepTimings: Map[String, Long] = Map.empty) {

  def rejections: Long =
    rejectionsByCategory.values.map(_.values.sum).sum

  def rejections(category: RejectionCategory): Long =
    rejectionsByCategory.get(category).map(_.values.sum).getOrElse(0L)

  def rejections(category: RejectionCategory, step: String): Long =
    rejectionsByCategory.get(category).flatMap(_.get(step)).getOrElse(0L)

  override def toString: String = {
    val rej = rejectionsByCategory.toSeq
      .sortBy(_._1.name)
      .map { case (c, m) => s"  $c: ${m.values.sum} ${m.map { case (s, n) => s"$s=$n" }.mkString("(", ", ", ")")}" }
      .mkString("\n")
    s"LoadStatistic($name: loaded=$loaded rejected=$rejections in ${durationMs}ms)" +
      (if (rej.nonEmpty) s"\n$rej" else "")
  }
}
