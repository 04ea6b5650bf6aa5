package graft.etl

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import graft.ops.Materialize

/** Run-killing abort (reference `PipelineAbortException.java` +
  * `Step.groovy:39-41`): raised when a step accumulates more than 50
  * SCRIPT_ERROR rejections without a single loaded row. */
class PipelineAbortException(msg: String) extends RuntimeException(msg)

/** One declared transformation of the pipeline. */
sealed trait PStep { def name: String }

/** Non-rejecting transform (projection, join, union, window, ...). */
final case class MapStep(name: String, apply: DataFrame => DataFrame) extends PStep

/** Rejecting predicate step: `pre` transforms the flow (default
  * identity), then rows failing `keep` leave the main flow into the
  * rejection channel; surviving rows get `onKept` applied, rejected
  * rows `onRejected(input, rejected)` (to strip columns `pre` added).
  *
  * Compiled as a *real* `filter` so Catalyst still pushes it into the scan
  * — rejected rows are never carried through downstream operators (that
  * would defeat pushdown and poison joins/aggregations at scale). The
  * rejected complement is recomputed declaratively only when the
  * rejection side-channel is actually consumed.
  *
  * The `pre` hook lets whole-operator rejections stay countable as a
  * row predicate in [[Pipeline.go]]'s single pass: the inner join
  * declares `pre = left_outer join + match marker`, `keep = marker is
  * not null` — in the uninstrumented plan Catalyst's EliminateOuterJoin
  * rewrites that back to a plain inner join, so [[Pipeline.toDF]] loses
  * nothing. The typed steps use `pre` to compute their converted value
  * once for `keep` and `onKept`. Under [[Pipeline.go]] `pre` runs below
  * the step's observe, so [[StepTiming]] charges its time to the segment
  * BEFORE the step (the previous rejecting step's, or the scan side).
  */
final case class FilterStep(
    name: String,
    category: RejectionCategory,
    reason: DataFrame => Column,
    keep: DataFrame => Column,
    onKept: DataFrame => DataFrame = identity,
    pre: DataFrame => DataFrame = identity,
    onRejected: (DataFrame, DataFrame) => DataFrame = (_, r) => r) extends PStep

/** General rejecting step where the complement is not a column predicate
  * (e.g. the anti-join side of an inner join). `exactInput=true` marks
  * steps whose `apply` stops consuming its input (a LIMIT): an observe
  * below such a step only sees the rows the limit pulled, so [[Pipeline.go]]
  * counts the step's input with a dedicated full count instead. */
final case class SplitStep(
    name: String,
    category: RejectionCategory,
    reason: String,
    apply: DataFrame => DataFrame,
    rejected: DataFrame => DataFrame,
    exactInput: Boolean = false) extends PStep

/** Row-closure step (gratum `addStep` with an arbitrary closure,
  * `Step.groovy:23-59`): `fn` maps one input row to zero or more output
  * rows. A row whose closure THROWS becomes a SCRIPT_ERROR rejection; a
  * row whose closure returns null becomes a REJECTION ("Unknown
  * Reason", reference `Pipeline.groovy:1012-1015`). Exits whole-stage
  * codegen — prefer declarative steps; this is the escape hatch. */
final case class ScriptStep(
    name: String,
    schema: StructType,
    fn: Row => IterableOnce[Row]) extends PStep

/** Copy of the flow at this point into a side pipeline (reference:
  * gratum `Pipeline.groovy:315-361`); identity on the main flow. */
final case class BranchStep(name: String, build: Pipeline => Pipeline) extends PStep

/** Deferred write executed by [[Pipeline.go]] at this chain position.
  * `readsAllRows` marks a write that consumes every row of its frame in
  * ONE action (a plain `DataFrameWriter.save`): only such a sink can
  * carry [[Pipeline.go]]'s observes when it ends the chain. A sink that
  * pulls a prefix (`show`) or may run several actions (a writer that
  * plans its partitions first) keeps the default `false`. */
final case class SinkStep(
    name: String,
    write: DataFrame => Map[String, String],
    readsAllRows: Boolean = false) extends PStep

/** Pipeline-BREAKING sink (gratum `save(Sink)`, Pipeline.groovy:833-844):
  * the flow is written and the sink's result row replaces it downstream.
  * [[Pipeline.go]] writes exactly once per run and caches the result row
  * for its side-output traversals; a bare [[Pipeline.toDF]] on a
  * result-sink pipeline performs the write too — the downstream schema
  * IS the write's result, so the side effect is inherent (documented). */
final case class ResultSinkStep(name: String, sink: graft.sinks.Sink) extends PStep

/** Spark-native re-expression of the reference's row pipeline
  * (gratum `src/main/groovy/gratum/etl/Pipeline.groovy`).
  *
  * A `Pipeline` is an immutable description: a source thunk plus a vector
  * of declared steps. `toDF` folds the steps into a single lazy Catalyst
  * plan — the optimizer (pushdown, pruning, join planning, AQE) sees the
  * whole query, unlike the reference's eager row-at-a-time step list
  * which executes exactly as written (SURVEY.md §4).
  *
  * Rejection model: rejecting operators are declared as [[FilterStep]] /
  * [[SplitStep]]. The main flow is the kept side only; the rejected
  * complement of every step is reconstructed lazily by [[rejections]]
  * and counted by [[go]]. This keeps the hot path prunable and
  * codegen-friendly at 100 TB while preserving the reference's
  * LoadStatistic/onRejection observability.
  */
final class Pipeline private (
    val name: String,
    private val source: () => DataFrame,
    private val steps: Vector[PStep],
    private val rejectionHandlers: Vector[DataFrame => Unit],
    private val afterHandlers: Vector[LoadStatistic => Unit]) {

  import Pipeline._

  private def copyWith(
      steps: Vector[PStep] = steps,
      rejectionHandlers: Vector[DataFrame => Unit] = rejectionHandlers,
      afterHandlers: Vector[LoadStatistic => Unit] = afterHandlers): Pipeline =
    new Pipeline(name, source, steps, rejectionHandlers, afterHandlers)

  private def add(step: PStep): Pipeline = copyWith(steps = steps :+ step)

  // ---------------------------------------------------------------- plan

  private def applyStep(df: DataFrame, s: PStep): DataFrame = s match {
    case MapStep(_, f)                   => f(df)
    case fs: FilterStep                  =>
      val pre = fs.pre(df)
      fs.onKept(pre.filter(fs.keep(pre)))
    case ss: SplitStep                   => ss.apply(df)
    case sc: ScriptStep                  => applyScript(df, sc, null, null)
    case rs: ResultSinkStep              => resultRowDF(df, rs.sink.write(df))
    case _: BranchStep | _: SinkStep     => df
  }

  /** One-row frame of a sink's result map (the reference's post-write
    * `{file, filename}` row pushed downstream). */
  private def resultRowDF(src: DataFrame, result: Map[String, String]): DataFrame = {
    val keys = result.keys.toSeq
    src.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(keys.map(result))),
      StructType(keys.map(k => StructField(k, StringType))))
  }

  /** Kept flow of a [[ScriptStep]]: failing/null rows are dropped (they
    * surface via [[rejections]]/[[go]]). When accumulators are passed
    * (go() instrumentation) they count SCRIPT_ERROR / null-REJECTION
    * rows; task retries may overcount (documented approximation).
    * Abort parity (`Step.groovy:39-41`): a partition that accumulates
    * >50 script errors before its first kept row kills the run. */
  private def applyScript(
      df: DataFrame,
      sc: ScriptStep,
      errAcc: org.apache.spark.util.LongAccumulator,
      nullAcc: org.apache.spark.util.LongAccumulator): DataFrame = {
    val fn = sc.fn
    df.mapPartitions { it =>
      var errors = 0L
      var kept = 0L
      it.flatMap { r =>
        try {
          val out = fn(r)
          if (out == null) {
            if (nullAcc != null) nullAcc.add(1)
            Iterator.empty
          } else {
            kept += 1
            out.iterator
          }
        } catch {
          case e: PipelineAbortException => throw e
          case _: Exception =>
            errors += 1
            if (errAcc != null) errAcc.add(1)
            if (errors > 50 && kept == 0)
              throw new PipelineAbortException(
                s"Step ${sc.name} has more than 50 script errors with no loaded rows")
            Iterator.empty
        }
      }
    }(org.apache.spark.sql.Encoders.row(sc.schema))
  }

  /** The optimal, uninstrumented plan of the kept (loaded) rows. */
  def toDF: DataFrame = steps.foldLeft(source())(applyStep)

  /** Plan state just before step `i`. `resultCache` short-circuits
    * already-written [[ResultSinkStep]]s with their cached result row
    * so a re-fold never repeats the write (populated by [[go]]). */
  private def prefixDF(i: Int, resultCache: collection.Map[Int, DataFrame] = Map.empty): DataFrame =
    steps.take(i).zipWithIndex.foldLeft(source()) { case (df, (s, j)) =>
      resultCache.getOrElse(j, applyStep(df, s))
    }

  /** All rejected rows of all steps: original columns plus
    * `rejectionCategory`, `rejectionReason`, `rejectionStep`,
    * `rejectionException` (reference column names: gratum
    * `Pipeline.groovy:174-189`). Schemas across steps are aligned by
    * name, missing columns null. A column whose type differs between
    * steps (a typed step converted it) and is a string in some step's
    * rows is a string in every step's rows: each row as it was
    * rejected. Other type differences widen under union coercion.
    *
    * Determinism: each step's complement is reconstructed from the
    * declared plan, so for a NONDETERMINISTIC rejecting step the kept
    * flow and this complement are two independent executions and may
    * not partition the input. Rejecting steps must be deterministic
    * (all built-ins are; `unique`/`limitRows(halt=false)` take an
    * explicit ordering for exactly this reason).
    *
    * Cost: with k rejecting steps the union re-folds the prefix plan k
    * times — k column-pruned, filter-pushed scans of the source. This
    * is deliberate: each complement branch prunes to exactly the
    * columns its prefix needs, so k cheap scans beat persisting the
    * full-width source once (measured 0.3s vs 2.0s on sf0.1 lineitem;
    * at cluster scale a 100 TB source cannot be cached at all, while
    * pruned re-scans parallelize freely). [[go]] persists the source
    * only while rejection HANDLERS run, where the instrumented flow
    * already forced a full materialization.
    */
  def rejections: DataFrame = rejectionsWith(Map.empty)

  private def rejectionsWith(resultCache: collection.Map[Int, DataFrame]): DataFrame = {
    val perStep = steps.zipWithIndex.flatMap {
      case (fs: FilterStep, i) =>
        val before = prefixDF(i, resultCache)
        val pre = fs.pre(before)
        Some(
          fs.onRejected(before, pre.filter(!coalesce(fs.keep(pre), lit(false))))
            .withColumn("rejectionCategory", lit(fs.category.name))
            .withColumn("rejectionReason", fs.reason(pre).cast(StringType))
            .withColumn("rejectionStep", lit(fs.name))
            .withColumn("rejectionException", lit(null).cast(StringType)))
      case (ss: SplitStep, i) =>
        val before = prefixDF(i, resultCache)
        Some(
          ss.rejected(before)
            .withColumn("rejectionCategory", lit(ss.category.name))
            .withColumn("rejectionReason", lit(ss.reason))
            .withColumn("rejectionStep", lit(ss.name))
            .withColumn("rejectionException", lit(null).cast(StringType)))
      case (sc: ScriptStep, i) =>
        val before = prefixDF(i, resultCache)
        val fn = sc.fn
        val excSchema = StructType(before.schema.fields :+
          StructField("__graft_exc__", StringType))
        val failed = before.mapPartitions { it =>
          it.flatMap { r =>
            try {
              if (fn(r) == null) Some(Row.fromSeq(r.toSeq :+ null)) else None
            } catch {
              case e: Exception => Some(Row.fromSeq(r.toSeq :+ e.toString))
            }
          }
        }(org.apache.spark.sql.Encoders.row(excSchema))
        Some(failed
          .withColumn("rejectionCategory",
            when(col("__graft_exc__").isNotNull, lit(RejectionCategory.SCRIPT_ERROR.name))
              .otherwise(lit(RejectionCategory.REJECTION.name)))
          .withColumn("rejectionReason",
            coalesce(col("__graft_exc__"), lit("Unknown Reason")))
          .withColumn("rejectionStep", lit(sc.name))
          .withColumn("rejectionException", col("__graft_exc__"))
          .drop("__graft_exc__"))
      case _ => None
    }
    perStep match {
      case Vector() =>
        // empty frame with just the rejection columns
        val spark = source().sparkSession
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField("rejectionCategory", StringType),
            StructField("rejectionReason", StringType),
            StructField("rejectionStep", StringType),
            StructField("rejectionException", StringType))))
      case some =>
        // union coercion would widen string and int to bigint and cast
        // the string side, failing on the first value a typed step
        // rejected — such a column stays a string everywhere
        val asString = some.flatMap(_.schema.fields).groupBy(_.name).collect {
          case (c, fs) if fs.exists(_.dataType == StringType) &&
              fs.exists(_.dataType != StringType) => c
        }.toSet
        some.map(df => df.select(df.schema.fields.toIndexedSeq.map { f =>
          val c = df.col(s"`${f.name.replace("`", "``")}`")
          if (asString(f.name) && f.dataType != StringType) c.cast(StringType).as(f.name) else c
        }: _*)).reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  // ---------------------------------------------------------------- run

  /** Execute the pipeline in ONE action.
    *
    * The loaded count and every step's rejected count come from a single
    * pass: each rejecting step is wrapped in `Dataset.observe`
    * (CollectMetrics) so the counters ride the same scan that computes
    * the result — a pipeline with k rejecting steps reads the source
    * once, not k+2 times (the reference counts per-step in-stream the
    * same way, `Step.groovy:24-50`). Note CollectMetrics is a pushdown
    * barrier: rejecting steps' predicates evaluate against the full
    * input by definition (every source row must be counted), so nothing
    * is lost — [[toDF]] stays the uninstrumented, fully-pushed plan.
    *
    * A trailing [[save]] is that one action: when the last step is a
    * sink that writes every row in one action (`SinkStep.readsAllRows`)
    * and nothing else needs a second pass — no other sink, no branch,
    * no onRejection handler, no `exactInput` split — the loaded count is
    * one more observe on top of the instrumented flow and the write
    * executes it, so the source is read once and not persisted. Every
    * other side output (a `printRow`, a mid-chain sink, a branch, a
    * handler) needs a second traversal by nature; when any exist the
    * source is persisted automatically for the duration of the run.
    *
    * Abort parity (`Step.groovy:39-41` + PipelineAbortException): >50
    * SCRIPT_ERROR rows with zero loaded kills the run — checked
    * in-stream per partition and globally after the action (when the
    * action is a fused save, after its write, as in the reference).
    *
    * Per-step timings: the executed plan's whole-stage-codegen spans
    * are segmented at the observe boundaries and each segment's
    * `pipelineTime` is attributed to the steps it covers (see
    * [[StepTiming]]); steps fused into one segment share its value, and
    * the reported times are executor pipeline ms (task-summed), not
    * wall. Sinks and branches report their own wall time; a trailing
    * save that is the run's action reports the action's. Falls back to
    * the action's duration for every step when no metrics are available
    * (documented approximation vs `LoadStatistic.groovy`).
    */
  /** Observed metric of an action whose listener events have been
    * drained. CollectMetrics can be pruned out of the executed plan
    * entirely (limit 0, empty-relation propagation above the observe),
    * in which case its metric never arrives and counts 0 instead of
    * blocking in `Observation.get` forever. */
  private def metricOrZero(obs: Observation, key: String): Long = {
    val m = Bridge.observedMetrics(obs)
    if (m.isEmpty) {
      System.err.println(
        s"[graft] WARNING observation $key never arrived (pruned plan); counting 0")
      0L
    } else m.get(key) match {
      // a sum over zero observed rows is a NULL metric value
      case Some(v: Number) => v.longValue()
      case _ => 0L
    }
  }

  def go(): LoadStatistic = {
    val t0 = System.nanoTime()
    // a trailing row-complete sink becomes the action when no other
    // side output needs a second pass over the source
    val fusedSink = steps.lastOption.collect { case sk: SinkStep if sk.readsAllRows => sk }
      .filter(_ => rejectionHandlers.isEmpty && steps.init.forall {
        case _: BranchStep | _: SinkStep => false
        case ss: SplitStep => !ss.exactInput
        case _ => true
      })
    val hasSideOutputs = fusedSink.isEmpty && (steps.exists {
      case _: BranchStep | _: SinkStep => true
      case _ => false
    } || rejectionHandlers.nonEmpty)
    val src = source()
    // persisted for the run when side outputs need a second pass
    val stat =
      if (hasSideOutputs) Materialize.scoped(src)(run(t0, src, fusedSink))
      else run(t0, src, fusedSink)
    afterHandlers.foreach(_(stat))
    stat
  }

  private def run(t0: Long, src: DataFrame, fusedSink: Option[SinkStep]): LoadStatistic = {
    val withSrc = copyWith().replaceSource(() => src)
    val spark = src.sparkSession

    // ---- build the instrumented plan: observe() counters per rejecting step
    val filterObs = scala.collection.mutable.ArrayBuffer.empty[(FilterStep, Observation)]
    val splitObs = scala.collection.mutable.ArrayBuffer.empty[(SplitStep, Option[Observation], Observation, Int)]
    // (stepIndex, observationName) in declaration order: the physical
    // CollectMetrics nodes segment the executed plan for StepTiming
    val obsAtStep = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val scriptAcc = scala.collection.mutable.ArrayBuffer.empty[
      (ScriptStep, org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator)]
    var obsId = 0
    def nextObs(): Observation = { obsId += 1; Observation(s"graft_${name}_$obsId") }

    // result-sink cache: each ResultSinkStep writes exactly once per
    // run (on the instrumented flow, so the observes fire during the
    // write); every later traversal reuses the cached result row
    val resultRows = scala.collection.mutable.Map.empty[Int, DataFrame]
    val resultTimings = scala.collection.mutable.Map.empty[String, Long]

    val instrumented = withSrc.steps.zipWithIndex.foldLeft(src) { case (df, (step, i)) =>
      step match {
        case MapStep(_, f) => f(df)
        case rs: ResultSinkStep =>
          val s0 = System.nanoTime()
          val row = resultRowDF(df, rs.sink.write(df))
          resultTimings(rs.name) = (System.nanoTime() - s0) / 1000000L
          resultRows(i) = row
          row
        case fs: FilterStep =>
          val obs = nextObs()
          filterObs += ((fs, obs))
          obsAtStep += ((i, obs.name))
          val pre = fs.pre(df)
          val observed = pre.observe(obs,
            sum(when(!coalesce(fs.keep(pre), lit(false)), lit(1L)).otherwise(lit(0L))).as("rejected"))
          fs.onKept(observed.filter(fs.keep(observed)))
        case ss: SplitStep =>
          val outObs = nextObs()
          // timing boundary: the IN observe sits below ss.apply (like a
          // FilterStep's observe below its keep-filter), so the split's
          // own work lands in the split's segment. exactInput splits
          // have no below-apply observe by design — no boundary, their
          // work folds into the enclosing segment.
          if (ss.exactInput) {
            // a limit-like apply stops pulling from its input — an
            // observe below it would undercount; the input is counted
            // with a dedicated full count after the action instead
            splitObs += ((ss, None, outObs, i))
            ss.apply(df).observe(outObs, count(lit(1)).as("n"))
          } else {
            val inObs = nextObs()
            splitObs += ((ss, Some(inObs), outObs, i))
            obsAtStep += ((i, inObs.name))
            ss.apply(df.observe(inObs, count(lit(1)).as("n")))
              .observe(outObs, count(lit(1)).as("n"))
          }
        case sc: ScriptStep =>
          val errAcc = spark.sparkContext.longAccumulator(s"${sc.name}.scriptErrors")
          val nullAcc = spark.sparkContext.longAccumulator(s"${sc.name}.nullRejects")
          scriptAcc += ((sc, errAcc, nullAcc))
          applyScript(df, sc, errAcc, nullAcc)
        case _: BranchStep | _: SinkStep => df
      }
    }

    // The single action: count() the instrumented flow, or — fused — let
    // the trailing sink write it with the loaded count observed on top.
    // A file write reports to listeners as a "command" execution.
    val loadedObs = fusedSink.map(_ => nextObs())
    val actionName = if (fusedSink.isDefined) "command" else "count"
    // Run it with a QueryExecutionListener attached: both actions run
    // their OWN derived QueryExecution (an agg or a write command over
    // the instrumented plan), so the executed plan — with populated SQL
    // metrics for StepTiming — is only reachable through the listener.
    @volatile var executedRoot: Option[org.apache.spark.sql.execution.SparkPlan] = None
    // the listener is session-global, so a concurrent action (parallel
    // go(), user action) could fire first — only accept the execution
    // whose plan actually contains THIS pipeline's instrumented plan
    val targetPlan = instrumented.queryExecution.analyzed
    val planCapture = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == actionName && executedRoot.isEmpty &&
            qe.analyzed.exists(_.sameResult(targetPlan)))
          executedRoot = Some(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planCapture)
    val actionCount =
      try fusedSink match {
        case Some(sk) =>
          sk.write(instrumented.observe(loadedObs.get, count(lit(1)).as("n")))
          None
        case None => Some(instrumented.count())
      } finally {
        // the listener bus is async: after the drain, the plan capture
        // and every observation of the action have seen its events
        Bridge.drainListeners(spark)
        spark.listenerManager.unregister(planCapture)
      }
    val loaded = actionCount.getOrElse(metricOrZero(loadedObs.get, "n"))
    val actionMs = (System.nanoTime() - t0) / 1000000L

    // ---- fold observed metrics into per-category per-step counts
    val counted = scala.collection.mutable.Map
      .empty[RejectionCategory, Map[String, Long]].withDefaultValue(Map.empty)
    def addCount(cat: RejectionCategory, step: String, n: Long): Unit =
      if (n > 0) counted(cat) = counted(cat) + (step -> (counted(cat).getOrElse(step, 0L) + n))
    filterObs.foreach { case (fs, obs) =>
      addCount(fs.category, fs.name, metricOrZero(obs, "rejected"))
    }
    splitObs.foreach { case (ss, inObs, outObs, i) =>
      val in = inObs match {
        case Some(o) => metricOrZero(o, "n")
        // exactInput: full input count in a dedicated action (one extra
        // traversal of the prefix; the source is persisted when side
        // outputs exist). This is what makes limitRows(halt=false)
        // report the true overflow instead of only the rows the limit
        // happened to pull.
        case None => withSrc.prefixDF(i, resultRows).count()
      }
      val out = metricOrZero(outObs, "n")
      addCount(ss.category, ss.name, in - out)
    }
    var scriptErrors = 0L
    scriptAcc.foreach { case (sc, errAcc, nullAcc) =>
      scriptErrors += errAcc.value
      addCount(RejectionCategory.SCRIPT_ERROR, sc.name, errAcc.value)
      addCount(RejectionCategory.REJECTION, sc.name, nullAcc.value)
    }
    if (scriptErrors > 50 && loaded == 0)
      throw new PipelineAbortException(
        s"Pipeline $name: $scriptErrors script errors with no loaded rows")

    // ---- per-step timing: segment the executed plan's codegen metrics
    // at the observe boundaries (see StepTiming); fall back to the
    // action duration for every step when attribution isn't possible
    val stepTimings = scala.collection.mutable.Map.empty[String, Long]
    withSrc.steps.foreach(s => stepTimings(s.name) = actionMs)
    executedRoot
      .flatMap(StepTiming.segments(_, obsAtStep.toSeq, withSrc.steps.map(_.name)))
      .foreach(_.foreach { case (k, v) => stepTimings(k) = v })
    resultTimings.foreach { case (k, v) => stepTimings(k) = v }
    fusedSink match {
      case Some(sk) => stepTimings(sk.name) = actionMs
      case None => withSrc.steps.zipWithIndex.foreach {
        case (sk: SinkStep, i) =>
          val s0 = System.nanoTime()
          sk.write(withSrc.prefixDF(i, resultRows))
          stepTimings(sk.name) = (System.nanoTime() - s0) / 1000000L
        case (bs: BranchStep, i) =>
          val s0 = System.nanoTime()
          val side = Pipeline.of(s"$name/${bs.name}", withSrc.prefixDF(i, resultRows))
          bs.build(side).go()
          stepTimings(bs.name) = (System.nanoTime() - s0) / 1000000L
        case _ => ()
      }
    }
    if (rejectionHandlers.nonEmpty) {
      val rejected = withSrc.rejectionsWith(resultRows)
      Materialize.scoped(rejected)(rejectionHandlers.foreach(h => h(rejected)))
    }

    LoadStatistic(name, loaded, counted.toMap.filter(_._2.nonEmpty),
      (System.nanoTime() - t0) / 1000000L, stepTimings.toMap)
  }

  private def replaceSource(newSource: () => DataFrame): Pipeline =
    new Pipeline(name, newSource, steps, rejectionHandlers, afterHandlers)

  // ------------------------------------------------------- meta operators

  /** gratum `addStep` (Pipeline.groovy:138-144) — arbitrary declarative
    * DataFrame transform under a step name. */
  def addStep(stepName: String)(fn: DataFrame => DataFrame): Pipeline =
    add(MapStep(stepName, fn))

  /** gratum `prependStep` (Pipeline.groovy:119-126) — same, inserted at
    * the head of the chain (runs before every existing step). */
  def prependStep(stepName: String)(fn: DataFrame => DataFrame): Pipeline =
    copyWith(steps = MapStep(stepName, fn) +: steps)

  /** gratum `apply` (Pipeline.groovy:1129-1132). */
  def applyTo(fn: Pipeline => Pipeline): Pipeline = fn(this)

  /** gratum `onRejection` (Pipeline.groovy:166-199): consumer of the
    * rejected-rows frame, run by [[go]]. */
  def onRejection(handler: DataFrame => Unit): Pipeline =
    copyWith(rejectionHandlers = rejectionHandlers :+ handler)

  /** gratum `after` (Pipeline.groovy:153-157). */
  def after(handler: LoadStatistic => Unit): Pipeline =
    copyWith(afterHandlers = afterHandlers :+ handler)

  /** Row-level escape hatch (gratum closure `addStep`): full Scala
    * function over rows. Prefer Column ops — this exits codegen.
    * Reference parity (`Step.groovy:23-59`): a row whose closure throws
    * becomes a SCRIPT_ERROR rejection (with the exception recorded in
    * the `rejectionException` column); returning null rejects the row
    * with category REJECTION. */
  def mapRows(schema: StructType)(fn: Row => Row): Pipeline =
    mapRows("mapRows", schema)(fn)

  def mapRows(stepName: String, schema: StructType)(fn: Row => Row): Pipeline =
    add(ScriptStep(stepName, schema,
      r => { val out = fn(r); if (out == null) null else Seq(out) }))

  /** Row-level flatMap escape hatch (gratum `inject`, Pipeline.groovy:1005-1027).
    * Same rejection semantics as [[mapRows]]. */
  def flatMapRows(schema: StructType)(fn: Row => IterableOnce[Row]): Pipeline =
    add(ScriptStep("flatMapRows", schema, fn))

  // ------------------------------------------------------------- filters

  /** gratum `filter(Closure)` (Pipeline.groovy:240-251): keep rows where
    * the predicate holds; complement is rejected IGNORE_ROW. */
  def filter(cond: Column): Pipeline = filter(s"filter($cond)", cond)

  def filter(stepName: String, cond: Column): Pipeline =
    add(FilterStep(
      stepName, RejectionCategory.IGNORE_ROW,
      _ => lit("Row did not match the filter"),
      _ => cond))

  /** Filter with an explicit rejection category and reason — for
    * boundary rejections that are not IGNORE_ROW semantics (e.g. the
    * HTTP source's rejectNon200 → RUNTIME_ERROR, reference
    * `OkHttpSource.groovy:216-219`). */
  def filter(stepName: String, cond: Column,
      category: RejectionCategory, reason: String): Pipeline =
    add(FilterStep(stepName, category, _ => lit(reason), _ => cond))

  /** gratum `filter(Map)` (Pipeline.groovy:284-294) — see [[Condition]]. */
  def filter(conditions: Map[String, Any]): Pipeline =
    add(FilterStep(
      s"filter(${Condition.describe(conditions)})",
      RejectionCategory.IGNORE_ROW,
      _ => lit(s"Row did not match ${Condition.describe(conditions)}"),
      _ => Condition.compile(conditions)))

  // ------------------------------------------------- projection / columns

  /** gratum `addField` (Pipeline.groovy:925-939). */
  def addField(field: String, value: Column): Pipeline =
    add(MapStep(s"addField($field)", _.withColumn(field, value)))

  /** gratum `setField` (Pipeline.groovy:912-918). */
  def setField(field: String, value: Any): Pipeline =
    add(MapStep(s"setField($field)", _.withColumn(field, lit(value))))

  /** gratum `removeField` (Pipeline.groovy:950-962). */
  def removeField(fields: String*): Pipeline =
    add(MapStep(s"removeField(${fields.mkString(",")})", _.drop(fields: _*)))

  /** Conditional variant of gratum `removeField`: the reference drops
    * the key per-row when the closure holds; columnar rows have a fixed
    * schema, so the per-row "absence" becomes NULL where `cond` holds
    * (documented deviation, SURVEY §2.2). */
  def removeFieldWhen(field: String, cond: Column): Pipeline =
    add(MapStep(s"removeField($field,cond)", df =>
      df.withColumn(field,
        when(cond, lit(null).cast(df.schema(field).dataType)).otherwise(col(field)))))

  /** gratum `renameFields` (Pipeline.groovy:463-472). */
  def renameFields(renames: (String, String)*): Pipeline =
    add(MapStep(s"renameFields", df =>
      renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }))

  /** gratum `clip` (Pipeline.groovy:969-977). */
  def clip(columns: String*): Pipeline =
    add(MapStep(s"clip(${columns.mkString(",")})", _.select(columns.map(col): _*)))

  /** gratum `trim` (Pipeline.groovy:301-306): trims whitespace on ALL
    * columns, casting everything to string (reference quirk preserved). */
  def trimAll(): Pipeline =
    add(MapStep("trim", df =>
      df.select(df.columns.toIndexedSeq.map(c => trim(col(c).cast(StringType)).as(c)): _*)))

  /** gratum `defaultValues` (Pipeline.groovy:1073-1080): fill null/empty
    * with a constant. */
  def defaultValues(defaults: (String, Any)*): Pipeline =
    add(MapStep("defaultValues", df =>
      defaults.foldLeft(df) { case (d, (c, v)) =>
        d.withColumn(c, when(falsy(d, c), lit(v)).otherwise(col(c)))
      }))

  /** gratum `defaultsBy` (Pipeline.groovy:1087-1094): fill null/empty dst
    * from src column. */
  def defaultsBy(pairs: (String, String)*): Pipeline =
    add(MapStep("defaultsBy", df =>
      pairs.foldLeft(df) { case (d, (dst, src)) =>
        d.withColumn(dst, when(falsy(d, dst), col(src)).otherwise(col(dst)))
      }))

  // ------------------------------------------------------------ casts

  /** gratum `asInt` (Pipeline.groovy:716-726): parse to int; null/empty
    * pass through as null; unparseable rows rejected INVALID_FORMAT. */
  def asInt(column: String): Pipeline = castStep(column, IntegerType, "an integer")

  /** gratum `asDouble` (Pipeline.groovy:699-709). */
  def asDouble(column: String): Pipeline = castStep(column, DoubleType, "a Double")

  private def castStep(column: String, to: DataType, label: String): Pipeline =
    typedStep(s"as${to.simpleString.capitalize}($column)", column, to,
      concat_ws(" ", lit("Could not parse"), col(column).cast(StringType), lit(s"to $label")),
      _.try_cast(to))

  /** gratum `asBoolean` (Pipeline.groovy:733-769): Y/N/yes/no/1/0/T/F
    * truth table; never rejects (garbage parses to false, as
    * Boolean.parseBoolean does in the reference); null/empty unchanged. */
  def asBoolean(column: String): Pipeline = {
    val truthy = Seq("Y", "y", "yes", "YES", "Yes", "1", "T", "t", "true", "True", "TRUE")
    add(MapStep(s"asBoolean($column)", df => {
      val s = col(column).cast(StringType)
      df.withColumn(column,
        when(s.isNull || s === "", lit(null).cast(BooleanType))
          .otherwise(s.isin(truthy: _*)))
    }))
  }

  /** gratum `asDate` (Pipeline.groovy:779-798): try each format in order;
    * null/empty pass through; unparseable rejected INVALID_FORMAT.
    * Formats are Spark `DateTimeFormatter` patterns parsed STRICTLY
    * (the engine-native, codegen'd path — the right default for a
    * data pipeline, where February 30 is dirty data, not March 2);
    * [[asDateLenient]] reproduces the reference's exact
    * SimpleDateFormat-lenient semantics when parity matters. Produces
    * TIMESTAMP_NTZ: the reference parses wall-clock dates with no
    * timezone, and the UTC-adjusted TimestampType would not
    * round-trip against naive timestamps in other engines. */
  def asDate(column: String, formats: String*): Pipeline = {
    val fmts = if (formats.isEmpty) Seq("yyyy-MM-dd") else formats
    dateStep(s"asDate($column, ${fmts.mkString(",")})", column, fmts,
      s => coalesce(fmts.map(f => try_to_timestamp(s, lit(f))): _*).cast(TimestampNTZType))
  }

  /** [[asDate]] with the reference's EXACT SimpleDateFormat-lenient
    * semantics (`Pipeline.groovy:779` constructs SimpleDateFormats,
    * lenient by default): out-of-range fields ROLL (2023-02-30 →
    * 2023-03-02, month 13 → January next year) and trailing garbage
    * after a parsed prefix is accepted ("2023-01-05xyz" parses).
    * One native codegen'd expression per row
    * ([[graft.functions.LenientSimpleDate]], UTC-pinned so the roll
    * arithmetic is DST-free); null/empty pass through; rows no format
    * parses reject INVALID_FORMAT, as in [[asDate]]. */
  def asDateLenient(column: String, formats: String*): Pipeline = {
    val fmts = if (formats.isEmpty) Seq("yyyy-MM-dd") else formats
    dateStep(s"asDateLenient($column, ${fmts.mkString(",")})", column, fmts,
      graft.functions.dateExprs.lenient_simple_date(_, fmts))
  }

  private def dateStep(stepName: String, column: String, fmts: Seq[String],
      parse: Column => Column): Pipeline =
    typedStep(stepName, column, TimestampNTZType,
      concat_ws(" ", col(column).cast(StringType),
        lit(s"could not be parsed by format ${fmts.mkString(",")}")),
      parse)

  /** The one body of the typed steps: `pre` adds `convert` of the
    * value's string form as a helper column, `keep` and `onKept` read
    * it and `onRejected` drops it. Under [[go]] that projection sits
    * below the step's observe (a pushdown barrier), so the observe, the
    * filter and the output share one conversion per non-blank value;
    * under [[toDF]] Catalyst inlines it into the pushed-down filter, so
    * a kept value converts at most twice. null and blank values pass
    * through as null; a value `convert` maps to null rejects
    * INVALID_FORMAT with `reason`. */
  private[etl] def typedStep(stepName: String, column: String, to: DataType,
      reason: Column, convert: Column => Column): Pipeline = {
    val s = col(column).cast(StringType)
    val blank = s.isNull || trim(s) === ""
    add(FilterStep(stepName, RejectionCategory.INVALID_FORMAT, _ => reason,
      keep = _ => col(TypedValue).isNotNull || blank,
      onKept = _.withColumn(column, col(TypedValue)).drop(TypedValue),
      pre = _.withColumn(TypedValue, when(blank, lit(null).cast(to)).otherwise(convert(s))),
      onRejected = (_, rejected) => rejected.drop(TypedValue)))
  }

  // ---------------------------------------------------- scalar transforms

  /** gratum `replaceAll` (Pipeline.groovy:1146-1152). */
  def replaceAll(column: String, regex: String, replacement: String): Pipeline =
    add(MapStep(s"replaceAll($column)",
      _.withColumn(column, regexp_replace(col(column), regex, replacement))))

  /** gratum `replaceValues` (Pipeline.groovy:1163-1171): dictionary recode. */
  def replaceValues(column: String, mapping: Map[String, String]): Pipeline =
    add(MapStep(s"replaceValues($column)", df => {
      val chain = mapping.foldLeft[Option[Column]](None) {
        case (None, (k, v))    => Some(when(col(column) === k, lit(v)))
        case (Some(w), (k, v)) => Some(w.when(col(column) === k, lit(v)))
      }
      df.withColumn(column, chain.map(_.otherwise(col(column))).getOrElse(col(column)))
    }))

  // ------------------------------------------------------- shape / order

  /** gratum `unique` (Pipeline.groovy:985-995): keep one row per distinct
    * key; duplicates rejected IGNORE_ROW. First-wins is defined by
    * `orderBy` (the reference relies on source row order, which Spark
    * does not guarantee — pass an ordering column for determinism).
    * The KEPT flow executes as a single `min_by` hash aggregation per
    * key (map-side partial) rather than a row-number window, so it
    * scales without a sort. The rejection complement — computed only
    * when the side-channel is consumed — does use a per-key row_number
    * window: on ties at the minimum it must still reject exactly n-1
    * rows, which a min anti-join cannot express (see inline note).
    *
    * DETERMINISM REQUIREMENT: `orderBy` must be unique within each key
    * — on ties the kept row is arbitrary and the rejection complement
    * (an independent execution, see [[rejections]]) may not agree with
    * the kept flow. */
  def unique(column: String, orderBy: String = null): Pipeline = {
    val ord = Option(orderBy)
    // null-safe total ordering: min_by IGNORES rows whose ordering is
    // null — a group whose every orderBy value is null would aggregate
    // to a fabricated all-null row. Wrapping in struct(isNull, value)
    // ranks null orderings last but keeps every row a candidate.
    def ordExpr(df: DataFrame): Column = {
      val o = ord.getOrElse(df.columns.head)
      struct(col(o).isNull.as("__null__"), col(o).as("__v__"))
    }
    add(SplitStep(
      s"unique($column)", RejectionCategory.IGNORE_ROW, s"Duplicate value for $column",
      apply = df =>
        df.groupBy(col(column))
          .agg(min_by(struct(df.columns.toIndexedSeq.map(col): _*), ordExpr(df)).as("__r__"))
          .select("__r__.*"),
      rejected = df => {
        // complement = everything past rank 1 per key. A window (not a
        // min anti-join) so groups whose ordering TIES at the min —
        // including the all-null-ordering group — still reject exactly
        // n-1 rows; WHICH row was kept is ambiguous on ties (documented
        // requirement above). Acceptable cost: the complement only
        // executes when the rejection side-channel is consumed.
        val w = Window.partitionBy(col(column)).orderBy(ordExpr(df))
        df.withColumn("__graft_rn__", row_number().over(w))
          .filter(col("__graft_rn__") > 1)
          .select(df.columns.toIndexedSeq.map(col): _*)
      }))
  }

  /** gratum `limit` (Pipeline.groovy:1107-1120). halt=true (default) stops
    * the scan via Catalyst's CollectLimit; halt=false keeps consuming and
    * counts the overflow as IGNORE_ROW rejections.
    *
    * halt=false REQUIRES `orderBy`: which n rows are kept is otherwise
    * execution-dependent, so the kept flow and the overflow complement
    * (two independent executions) could fail to partition the input —
    * reference semantics relied on source row order, which a
    * distributed scan does not have. With `orderBy`, kept = first n of
    * the explicit total order (TakeOrderedAndProject — no full sort)
    * and rejected = the same sort's `offset(n)`; a whole-row hash is
    * appended as a tiebreak so rows tying on the user's keys resolve
    * identically in both executions (bit-identical duplicate rows
    * remain interchangeable, which cannot change either output set). */
  def limitRows(n: Int, halt: Boolean = true, orderBy: Seq[String] = Nil): Pipeline =
    if (halt) {
      if (orderBy.isEmpty) add(MapStep(s"limit($n)", _.limit(n)))
      else add(MapStep(s"limit($n)", _.orderBy(orderBy.map(col): _*).limit(n)))
    } else {
      require(orderBy.nonEmpty,
        "limitRows(halt = false) needs an explicit orderBy: without one, which rows " +
          "overflow is execution-dependent and the kept flow and the rejection " +
          "complement may not partition the input. Pass orderBy = Seq(keyCols...) " +
          "or use halt = true.")
      def keys(df: DataFrame): Seq[Column] =
        orderBy.map(col) :+ xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))
      add(SplitStep(
        s"limit($n)", RejectionCategory.IGNORE_ROW, s"Exceeded the limit of $n rows",
        apply = df => df.orderBy(keys(df): _*).limit(n),
        rejected = df => df.orderBy(keys(df): _*).offset(n),
        exactInput = true)) // a limit stops pulling; go() counts input fully
    }

  /** gratum `sort` (Pipeline.groovy:650-654,573-577): multi-column sort.
    * Spark's sort is a distributed range-partitioned external sort —
    * the reference's CSV-spill merge sort (Pipeline.groovy:587-691) is
    * subsumed by UnsafeExternalSorter. */
  def sortBy(columns: String*): Pipeline =
    add(MapStep(s"sort(${columns.mkString(",")})", _.orderBy(columns.map(col): _*)))

  def sortBy(orders: (String, SortOrder)*)(implicit d: DummyImplicit): Pipeline =
    add(MapStep(s"sort", _.orderBy(orders.map {
      case (c, SortOrder.ASC)  => col(c).asc
      case (c, SortOrder.DESC) => col(c).desc
    }: _*)))

  /** gratum `sort(name, configClosure)` (Pipeline.groovy:587-642,
    * `SortConfig.groovy:8-13`): general sort with page-spill, an
    * `after(file)` callback receiving the fully-sorted file, and a
    * `downstream` flag. Mapping: `pageSize` is accepted but inert —
    * Spark's range-partitioned sort spills via UnsafeExternalSorter
    * without configuration (the reference's hand-rolled CSV page merge,
    * Pipeline.groovy:597-691, is engine work Spark already does);
    * `comparator` closures become explicit sort-key Columns (a JVM
    * comparator cannot participate in a distributed range sort);
    * `after` writes the sorted flow through [[graft.sinks.CsvFileSink]]
    * and hands over the single file; `downstream=false` ends the flow
    * after the callback (reference parity). */
  def sortWith(spec: SortSpec): Pipeline =
    add(MapStep("sort(config)", df => {
      val sorted = df.orderBy(spec.keys: _*)
      spec.after.foreach { cb =>
        val f = java.io.File.createTempFile("graft-sort", ".csv")
        new graft.sinks.CsvFileSink(f.getAbsolutePath).write(sorted)
        cb(f)
      }
      if (spec.downstream) sorted else sorted.limit(0)
    }))

  // --------------------------------------------------------- multi-input

  /** gratum `concat` (Pipeline.groovy:208-220): UNION ALL by column name,
    * null-padding columns missing on either side. */
  def concatWith(other: Pipeline): Pipeline =
    add(MapStep(s"concat(${other.name})",
      _.unionByName(other.toDF, allowMissingColumns = true)))

  // Set-operation supersets (SURVEY §2.7: the reference has only concat
  // and the intersect marker; Spark provides the rest natively).

  /** UNION DISTINCT by column name. */
  def concatDistinct(other: Pipeline): Pipeline =
    add(MapStep(s"unionDistinct(${other.name})",
      _.unionByName(other.toDF, allowMissingColumns = true).distinct()))

  /** EXCEPT (distinct rows of this flow absent from `other`). */
  def exceptRows(other: Pipeline): Pipeline =
    add(MapStep(s"except(${other.name})", _.except(other.toDF)))

  /** INTERSECT with dedup (unlike [[intersectMarker]], this filters). */
  def intersectRows(other: Pipeline): Pipeline =
    add(MapStep(s"intersect(${other.name})", _.intersect(other.toDF)))

  /** gratum `join` (Pipeline.groovy:385-427).
    *
    * `left=false` → inner join; unmatched left rows are IGNORE_ROW
    * rejections (computed as the anti-join). `left=true` → left outer,
    * unmatched rows null-padded. On column collision the LEFT value wins
    * (reference `j.putAll(row)` semantics, Pipeline.groovy:403-405):
    * colliding non-key right columns are dropped.
    *
    * Physical: declared as a plain equi-join so Catalyst/AQE pick
    * broadcast-hash vs sort-merge from stats — the reference always
    * materializes the whole right side in memory (Pipeline.groovy:386-392),
    * which is exactly the build side of a hash join, minus spilling.
    */
  def join(other: Pipeline, on: Seq[String], left: Boolean = false): Pipeline = {
    val how = if (left) "left_outer" else "inner"
    def rightPruned(l: DataFrame, r: DataFrame): DataFrame = {
      val collisions = l.columns.toSet.intersect(r.columns.toSet) -- on.toSet
      collisions.foldLeft(r)(_.drop(_))
    }
    if (left)
      add(MapStep(s"join(${other.name})", df => {
        df.join(rightPruned(df, other.toDF), on, how)
      }))
    else
      // Declared as left_outer + match marker so go()'s single pass can
      // count unmatched rows as a row predicate (observe); in the
      // uninstrumented plan the null-filtering keep predicate lets
      // Catalyst's EliminateOuterJoin rewrite this back to a plain
      // inner join, so toDF pays nothing for the observability.
      add(FilterStep(
        s"join(${other.name})", RejectionCategory.IGNORE_ROW,
        _ => lit(s"Could not join on (${on.mkString(",")})"),
        keep = _ => col("__graft_matched__").isNotNull,
        onKept = _.drop("__graft_matched__"),
        pre = df => df.join(
          rightPruned(df, other.toDF).withColumn("__graft_matched__", lit(true)),
          on, "left_outer"),
        onRejected = (input, rejected) => rejected.select(input.columns.toIndexedSeq.map(col): _*)))
  }

  /** Join with differing column names: map of leftCol → rightCol
    * (gratum `leftColumn`/`rightColumn`, Pipeline.groovy:507-525). */
  def join(other: Pipeline, on: Map[String, String], left: Boolean)(implicit d: DummyImplicit): Pipeline = {
    val renamed = on.foldLeft(other) { case (p, (l, r)) =>
      if (l == r) p else p.renameFields(r -> l)
    }
    join(renamed, on.keys.toSeq, left)
  }

  /** gratum `intersect` (Pipeline.groovy:488-505): mark each left row
    * with boolean `included` = key exists in the other pipeline. No
    * filtering (reference behavior). Implemented as a left-semi-style
    * join against the distinct keys of the right side. */
  def intersectMarker(other: Pipeline, on: Seq[String]): Pipeline =
    add(MapStep(s"intersect(${other.name})", df => {
      require(!df.columns.contains("included") && !df.columns.contains("__included__"),
        "intersect writes the output column `included` (and uses `__included__` " +
          "internally); rename the input's column first")
      val keys = other.toDF.select(on.map(col): _*).distinct()
        .withColumn("__included__", lit(true))
      df.join(keys, on, "left_outer")
        .withColumn("included", coalesce(col("__included__"), lit(false)))
        .drop("__included__")
    }))

  /** gratum `encryptPgp` (Pipeline.groovy:1182-1208): PGP-encrypt the
    * binary payload column in place via [[graft.ops.Pgp]] (system
    * GnuPG; the reference used BouncyCastle). */
  def encryptPgp(column: String, config: graft.ops.Pgp.PgpConfig): Pipeline =
    addStep(s"encrypt($column)")(df => graft.ops.Pgp.encrypt(df, column, config))

  /** gratum `decryptPgp` (Pipeline.groovy:1219-1241). */
  def decryptPgp(column: String, config: graft.ops.Pgp.PgpConfig): Pipeline =
    addStep(s"decrypt($column)")(df => graft.ops.Pgp.decrypt(df, column, config))

  /** gratum `branch` (Pipeline.groovy:315-361): copy the flow into a side
    * pipeline built by `build`; main flow unchanged. The side pipeline
    * runs during [[go]]. */
  def branch(build: Pipeline => Pipeline): Pipeline =
    add(BranchStep("branch", build))

  def branch(conditions: Map[String, Any])(build: Pipeline => Pipeline): Pipeline =
    add(BranchStep(s"branch(${Condition.describe(conditions)})",
      p => build(p.filter(conditions))))

  /** gratum `inject`/`exchange` for the common collection-valued case:
    * explode an array/map column into one row per element
    * (Pipeline.groovy:1005-1027,1039-1053 → SURVEY §2.4). */
  def explodeField(column: String, as: String): Pipeline =
    add(MapStep(s"explode($column)", _.withColumn(as, explode(col(column)))))

  /** gratum `exchange(Closure)` general form (Pipeline.groovy:1039-1053):
    * every row spawns a sub-flow whose output rows are injected
    * downstream. The reference constructs a Pipeline object per row;
    * a distributed engine cannot build a driver-side plan per row, so
    * the general form takes the sub-flow as a per-row row-generating
    * function and runs it executor-side as one parallel flatMap — same
    * semantics, no driver round-trip. Collection-shaped exchanges
    * should use [[explodeField]] instead (declarative, codegen'd,
    * no opaque closure blocking Catalyst). */
  def exchange(schema: StructType)(subFlow: Row => IterableOnce[Row]): Pipeline =
    add(ScriptStep("exchange", schema, subFlow))

  /** gratum `fillDownBy` (Pipeline.groovy:437-455): copy the previous
    * non-empty value into null/empty cells, within `partitionCols` groups
    * ordered by `orderCol`. The reference's decider-closure generality is
    * scoped to the partition-equality case — the only shape that
    * parallelizes (documented deviation; arbitrary deciders are
    * inherently sequential). */
  def fillDown(partitionCols: Seq[String], orderCol: String, columns: Seq[String]): Pipeline =
    add(MapStep(s"fillDownBy(${partitionCols.mkString(",")})", df => {
      val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      columns.foldLeft(df) { (d, c) =>
        val nonEmpty = when(!falsy(d, c), col(c))
        d.withColumn(c, when(falsy(d, c), last(nonEmpty, ignoreNulls = true).over(w)).otherwise(col(c)))
      }
    }))

  /** gratum `fillDownBy` over ONE GLOBAL ORDER — the reference's
    * whole-stream sequential fill, previously only available here
    * scoped to partition groups. Delegates to
    * [[graft.ops.OrderedFill.fillDown]]: quantile-bucketed two-pass
    * prefix scan (per-bucket windows + driver-scanned carry), never a
    * single-partition global window. */
  def fillDownOrdered(orderCol: String, columns: Seq[String]): Pipeline =
    add(MapStep(s"fillDownOrdered($orderCol)",
      graft.ops.OrderedFill.fillDown(_, orderCol, columns)))

  // ---------------------------------------------------------- aggregation

  /** Relational face of gratum `groupBy` (Pipeline.groovy:537-566):
    * group + aggregate. The reference's nested-tree result shape is an
    * API artifact of emitting one row; [[groupTree]] reproduces it. */
  def groupAgg(groupCols: Seq[String])(aggs: Column*): Pipeline =
    add(MapStep(s"groupBy(${groupCols.mkString(",")})",
      _.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)))

  /** gratum `reduce` (Pipeline.groovy:1253-1269): fold all rows into one
    * accumulator row — expressed as a global aggregation (map-side
    * partials + single final combine; the closure-fold of the reference
    * is sequential by construction). */
  def reduceAgg(aggs: Column*): Pipeline =
    add(MapStep("reduce", _.agg(aggs.head, aggs.tail: _*)))

  /** gratum `flattenWindow` (Pipeline.groovy:1284-1313): run-length
    * session id over consecutive equal values of `field`, within
    * `partitionCols` ordered by `orderCol`. Adds column `as`; downstream
    * group-on-session reproduces the reference's buffered windows. */
  def sessionize(field: String, partitionCols: Seq[String], orderCol: String,
      as: String = "window_id"): Pipeline =
    add(MapStep(s"flattenWindow($field)", df => {
      val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
      val changed = when(
        lag(col(field), 1).over(w).isNull || lag(col(field), 1).over(w) =!= col(field),
        lit(1)).otherwise(lit(0))
      df.withColumn(as,
        sum(changed).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }))

  /** gratum `groupBy` tree result (Pipeline.groovy:537-566): collects the
    * grouped rows to the driver as the reference's nested
    * Map[v1][v2]...[vN] = List[row] shape. Driver-side by definition —
    * bounded use only (the reference materializes the same tree in
    * heap). Guarded: refuses to collect more than [[Pipeline.GroupTreeMaxRows]]
    * rows (cheap count first) instead of silently OOMing the driver —
    * at scale, aggregate relationally with [[groupAgg]] instead.
    */
  def groupTree(columns: String*): Map[String, Any] = {
    val df = toDF
    val n = df.count()
    if (n > GroupTreeMaxRows)
      throw new IllegalStateException(
        s"groupTree would collect $n rows to the driver (cap $GroupTreeMaxRows); " +
          "use groupAgg for corpus-scale aggregation")
    val rows = df.collect()
    def build(rs: Seq[Row], cols: List[String]): Any = cols match {
      case Nil => rs.map(r => r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq)).toList
      case c :: rest =>
        rs.groupBy(r => String.valueOf(r.getAs[Any](c))).map {
          case (k, grp) => k -> build(grp, rest)
        }
    }
    build(rows.toSeq, columns.toList).asInstanceOf[Map[String, Any]]
  }

  // --------------------------------------------------------------- sinks

  /** gratum `save` (Pipeline.groovy:809-844): deferred write executed by
    * [[go]] at this chain position; main flow continues unchanged.
    * As the LAST step of a pipeline with no other side output, the write
    * is [[go]]'s one action: the loaded and rejection counts ride it and
    * the source is read once, as in the reference's push chain.
    *
    * `partitionBy` (beyond the reference: it writes one local file)
    * lays the output out as hive-style `col=value` directories — at
    * corpus scale this is what makes every downstream read prunable
    * (a filter on a partition column skips whole directories instead
    * of opening files), so date/language/source-style columns belong
    * here rather than inside the files. */
  def save(path: String, format: String = "csv",
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): Pipeline = {
    val defaults =
      if (format == "csv") Map("header" -> "true", "quoteAll" -> "true")
      else Map.empty[String, String]
    add(SinkStep(s"save($path)", df => {
      val w = df.write.mode("overwrite").format(format).options(defaults ++ options)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
      Map("file" -> path, "filename" -> path)
    }, readsAllRows = true))
  }

  /** gratum `save(Sink)` (Pipeline.groovy:833-844): write through a
    * [[graft.sinks.Sink]] and REPLACE the downstream flow with the
    * sink's single result row ({file, filename}) — the reference's
    * post-save chaining contract (`CsvSink.groovy:40-43`). The write
    * executes when the downstream plan is built (toDF/go), mirroring
    * the reference's pipeline-breaking sinks; use [[save]] to keep the
    * main flow flowing. */
  def saveAs(sink: graft.sinks.Sink): Pipeline =
    add(ResultSinkStep(s"save(${sink.name})", sink))

  /** gratum `printRow` (Pipeline.groovy:884-894). `show` pulls at most
    * 21 rows, so this sink never carries [[go]]'s counts. */
  def printRow(columns: String*): Pipeline =
    add(SinkStep("printRow", df => {
      val d = if (columns.isEmpty) df else df.select(columns.map(col): _*)
      d.show(20, false)
      Map.empty
    }))

  /** gratum `progress(n)` (Pipeline.groovy:896-904): a dot per `every`
    * rows. Cosmetic observability; prints from the worker threads
    * (= the console in local mode). Exits codegen — keep out of
    * billion-row hot paths and watch the Spark UI instead. */
  def progress(every: Int = 1000): Pipeline =
    add(MapStep("progress", df => {
      val schema = df.schema
      df.mapPartitions { it =>
        var n = 0L
        it.map { r =>
          n += 1
          if (n % every == 0) { System.err.print(".") }
          r
        }
      }(org.apache.spark.sql.Encoders.row(schema))
    }))

  // ------------------------------------- training-data pipeline verbs
  // The graft.ops family surfaced as chainable steps, so a corpus-prep
  // flow reads as one pipeline: source → quality filter → dedup → save.

  /** Exact-dedup on `textCol`'s normalized fingerprint, keeping the
    * smallest `orderCol` per group ([[graft.ops.Dedup.exact]]: one
    * min_by hash aggregation). */
  def dedupExact(textCol: String, orderCol: String): Pipeline =
    add(MapStep("dedupExact", graft.ops.Dedup.exact(_, textCol, orderCol)))

  /** Greedy MinHash+LSH near-dedup ([[graft.ops.Dedup.minhashDedup]]):
    * drops rows near-duplicating a smaller-`idCol` row at `threshold`
    * Jaccard over `shingleN`-gram shingles. */
  def dedupNearMinhash(
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): Pipeline =
    add(MapStep("dedupNearMinhash",
      graft.ops.Dedup.minhashDedup(_, idCol, textCol, shingleN, numHashes, bands, threshold)))

  /** IMAGE near-dup pairs over a PNG payload column
    * ([[graft.ops.Dedup.imageNearDups]]: perceptual dHash signatures
    * through the banded Hamming blocking). Replaces the flow with the
    * (id1, id2, hamming) pair set — feed [[dedupClusters]]-style
    * downstream logic or an anti-join to drop the copies. */
  def imageNearDups(
      idCol: String, pngCol: String, maxHamming: Int = 5): Pipeline =
    add(MapStep("imageNearDups",
      graft.ops.Dedup.imageNearDups(_, idCol, pngCol, maxHamming = maxHamming)))

  /** AUDIO near-dup pairs over a WAV payload column
    * ([[graft.ops.Dedup.audioNearDups]]: gain-invariant
    * energy-envelope hash + banded Hamming blocking). */
  def audioNearDups(
      idCol: String, wavCol: String, maxHamming: Int = 5): Pipeline =
    add(MapStep("audioNearDups",
      graft.ops.Dedup.audioNearDups(_, idCol, wavCol, maxHamming = maxHamming)))

  /** VIDEO near-dup pairs over an MP4 payload column
    * ([[graft.ops.Dedup.videoNearDups]]: coded-size-envelope
    * fingerprint + banded Hamming blocking; re-muxed copies at
    * Hamming 0, re-encodes need the embedding path). */
  def videoNearDups(
      idCol: String, mp4Col: String, maxHamming: Int = 5): Pipeline =
    add(MapStep("videoNearDups",
      graft.ops.Dedup.videoNearDups(_, idCol, mp4Col, maxHamming = maxHamming)))

  /** Append [[graft.ops.TextOps.qualityFeatures]] as a struct column. */
  def withQualityFeatures(textCol: String, as: String = "quality"): Pipeline =
    add(MapStep("qualityFeatures",
      _.withColumn(as, graft.ops.TextOps.qualityFeatures(col(textCol)))))

  /** Append the [[graft.ops.TextOps.langId]] language guess. */
  def withLangId(textCol: String, as: String = "lang_pred"): Pipeline =
    add(MapStep("langId", _.withColumn(as, graft.ops.TextOps.langId(col(textCol)))))

  /** Append pooled per-registered-domain statistics — the
    * domain-reputation axis ([[graft.ops.UrlOps.withDomainStats]]). */
  def withDomainStats(
      urlCol: String, weightCol: String, prefix: String = "domain_"): Pipeline =
    add(MapStep("domainStats",
      graft.ops.UrlOps.withDomainStats(_, urlCol, weightCol, prefix)))

  /** Label rows head/middle/tail by per-stratum score quantiles —
    * CCNet bucketing ([[graft.ops.Sketches.bucketByQuantile]]). */
  def withQualityBucket(
      scoreCol: String, stratumCol: Option[String] = None,
      cuts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
      labels: Seq[String] = Seq("head", "middle", "tail"),
      as: String = "bucket", exact: Boolean = false): Pipeline =
    add(MapStep("qualityBucket",
      graft.ops.Sketches.bucketByQuantile(_, scoreCol, stratumCol, cuts, labels, as,
        exact = exact)))

  /** Append the whitespace token count ([[graft.ops.TextOps.tokenCount]]). */
  def withTokenCount(textCol: String, as: String = "n_tokens"): Pipeline =
    add(MapStep("tokenCount", _.withColumn(as, graft.ops.TextOps.tokenCount(col(textCol)))))

  /** Append the duplicated-n-gram fraction
    * ([[graft.ops.TextOps.repetitionRatio]] — boilerplate signal). */
  def withRepetitionRatio(textCol: String, n: Int = 3, as: String = "rep_ratio"): Pipeline =
    add(MapStep("repetitionRatio",
      _.withColumn(as, graft.ops.TextOps.repetitionRatio(col(textCol), n))))

  /** Repair UTF-8-as-windows-1252 mojibake in place
    * ([[graft.ops.TextOps.fixMojibake]] — ftfy-style reinterpretation
    * test; clean text passes through unchanged). Run before
    * [[dedupExact]]/fingerprinting: "café" and its mangled
    * twin must collapse to one document. */
  def fixMojibake(textCol: String): Pipeline =
    add(MapStep("fixMojibake",
      _.withColumn(textCol, graft.ops.TextOps.fixMojibake(col(textCol)))))

  /** TRANSITIVE near-dedup: shared-`shingleN`-gram edges → connected
    * components → keep the smallest `idCol` per duplicate cluster
    * ([[graft.ops.Dedup.sharedShingleEdges]] + [[graft.ops.Dedup.clusterDedup]]). */
  def dedupClusters(idCol: String, textCol: String, shingleN: Int = 8): Pipeline =
    add(MapStep("dedupClusters", df =>
      graft.ops.Dedup.clusterDedup(df, idCol,
        graft.ops.Dedup.sharedShingleEdges(df, idCol, textCol, shingleN))))

  /** Remove duplicated `k`-token spans, keeping one global occurrence
    * ([[graft.ops.Dedup.removeDuplicatedSpans]] — ExactSubstr). */
  def dedupSpans(idCol: String, textCol: String, k: Int = 20): Pipeline =
    add(MapStep("dedupSpans",
      graft.ops.Dedup.removeDuplicatedSpans(_, idCol, textCol, k)))

  /** Drop rows sharing a `gramN`-token gram with `eval`
    * ([[graft.ops.Contamination.decontaminate]]). */
  def decontaminate(
      eval: DataFrame, idCol: String, textCol: String, gramN: Int = 8): Pipeline =
    add(MapStep("decontaminate",
      graft.ops.Contamination.decontaminate(_, eval, idCol, textCol, gramN)))

  /** Drop rows sharing a `gramN`-token gram with `eval`, stateless
    * form — streaming-capable, broadcast gram set
    * ([[graft.ops.Contamination.decontaminateFilter]]). */
  def decontaminateByFilter(
      eval: DataFrame, idCol: String, textCol: String, gramN: Int = 8): Pipeline =
    add(MapStep("decontaminateByFilter",
      graft.ops.Contamination.decontaminateFilter(_, eval, idCol, textCol, gramN)))

  /** Drop rows sharing a `gramN`-token gram with `eval`, Bloom
    * form — exact verdicts behind a constant-space prefilter, for
    * eval sets too large to collect
    * ([[graft.ops.Contamination.decontaminateBloom]]). */
  def decontaminateByBloom(
      eval: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8, fpp: Double = 0.01): Pipeline =
    add(MapStep("decontaminateByBloom",
      graft.ops.Contamination.decontaminateBloom(_, eval, idCol, textCol, gramN, fpp)))

  /** Append the mean per-token log10 stupid-backoff LM score
    * ([[graft.ops.LmScore.withLmScore]] — the CCNet perplexity axis). */
  def withLmScore(
      textCol: String,
      model: org.apache.spark.broadcast.Broadcast[graft.functions.LmModel],
      as: String = "lm_logprob"): Pipeline =
    add(MapStep("lmScore", graft.ops.LmScore.withLmScore(_, textCol, model, as)))

  /** Append the Naive Bayes document score and verdict
    * ([[graft.ops.NbClassifier.withNbScore]] — the supervised
    * quality-classifier axis). */
  def withNbScore(
      textCol: String,
      model: org.apache.spark.broadcast.Broadcast[graft.functions.NbModel],
      as: String = "nb_score"): Pipeline =
    add(MapStep("nbScore", graft.ops.NbClassifier.withNbScore(_, textCol, model, as)))

  /** Reproducible corpus shuffle
    * ([[graft.ops.Sampling.shuffleByHash]]). */
  def shuffleByHash(keyCol: String, salt: String, local: Boolean = false): Pipeline =
    add(MapStep("shuffleByHash",
      graft.ops.Sampling.shuffleByHash(_, col(keyCol), salt, local)))

  /** Keep ~`fraction` of rows decided per `keyCol` — rerun-stable
    * ([[graft.ops.Sampling.sampleByHash]]). */
  def sampleByHash(keyCol: String, fraction: Double, salt: String): Pipeline =
    add(MapStep("sampleByHash",
      graft.ops.Sampling.sampleByHash(_, col(keyCol), fraction, salt)))

  /** Append a rerun-stable split label from `keyCol`
    * ([[graft.ops.Sampling.splitByHash]]). */
  def withSplit(
      keyCol: String, weights: Seq[(String, Double)], salt: String,
      as: String = "split"): Pipeline =
    add(MapStep("split",
      _.withColumn(as, graft.ops.Sampling.splitByHash(col(keyCol), weights, salt))))

  /** Drop lines occurring in ≥ `minDocs` distinct documents from every
    * document ([[graft.ops.TextOps.removeBoilerplateLines]] — the
    * CCNet/RefinedWeb paragraph-dedup step). */
  def removeBoilerplate(idCol: String, textCol: String, minDocs: Int): Pipeline =
    add(MapStep("removeBoilerplate",
      graft.ops.TextOps.removeBoilerplateLines(_, idCol, textCol, minDocs)))

  /** Explode each document into ≤ `maxTokens`-token chunks with
    * `overlap` shared tokens ([[graft.ops.TextOps.chunkDocuments]]). */
  def chunk(idCol: String, textCol: String, maxTokens: Int, overlap: Int = 0): Pipeline =
    add(MapStep("chunk",
      graft.ops.TextOps.chunkDocuments(_, idCol, textCol, maxTokens, overlap)))

  /** Append `cum_before`/`shard_id` under concat-and-chunk packing
    * ([[graft.ops.Packing.assignShards]]). */
  def packShards(orderCol: String, weightCol: String, budget: Long): Pipeline =
    add(MapStep("packShards",
      graft.ops.Packing.assignShards(_, orderCol, weightCol, budget)))

  /** Materialize write-ready packed shard rows
    * ([[graft.ops.Packing.buildShards]]). */
  def buildShards(
      orderCol: String, textCol: String, weightCol: String,
      budget: Long, sep: String = "\n"): Pipeline =
    add(MapStep("buildShards",
      graft.ops.Packing.buildShards(_, orderCol, textCol, weightCol, budget, sep)))

  /** [[buildShards]] plus the per-shard doc-boundary offsets packed
    * training needs ([[graft.ops.Packing.buildShardsWithBoundaries]]). */
  def buildShardsWithBoundaries(
      orderCol: String, textCol: String, weightCol: String,
      budget: Long, sep: String = "\n"): Pipeline =
    add(MapStep("buildShardsWithBoundaries",
      graft.ops.Packing.buildShardsWithBoundaries(_, orderCol, textCol,
        weightCol, budget, sep)))

  /** FIXED-LENGTH packed token-ID sequences — the tensor a data loader
    * reads ([[graft.ops.Packing.packTokenIds]]: GPT-style
    * concat-and-chunk over an `array<int>` ids column, documents split
    * across sequence boundaries, pad only at the corpus tail,
    * `doc_offsets` = within-sequence attention-reset boundaries). */
  def packTokenIds(
      orderCol: String, idsCol: String, seqLen: Int, padId: Int = 0,
      sepId: Option[Int] = None): Pipeline =
    add(MapStep("packTokenIds",
      graft.ops.Packing.packTokenIds(_, orderCol, idsCol, seqLen, padId,
        sepId = sepId)))

  /** WHOLE-document next-fit packing — the SFT tensor shape: a
    * document never splits across sequences
    * ([[graft.ops.Packing.packWholeDocs]]; docs longer than seqLen
    * fail loudly — filter oversized upstream, or use [[packTokenIds]],
    * the splitting packer). */
  def packWholeDocs(
      orderCol: String, idsCol: String, seqLen: Int,
      padId: Int = 0): Pipeline =
    add(MapStep("packWholeDocs",
      graft.ops.Packing.packWholeDocs(_, orderCol, idsCol, seqLen, padId)))

  /** Deterministic shuffle-and-shard of a packed sequence set —
    * adds `rank` (position in the reproducible md5-prefix permutation)
    * and `shard_id` (its `rowsPerShard` cut)
    * ([[graft.ops.Packing.assignShuffledShards]]). */
  def assignShuffledShards(
      idCol: String, salt: String, rowsPerShard: Long): Pipeline =
    add(MapStep("assignShuffledShards",
      graft.ops.Packing.assignShuffledShards(_, idCol, salt, rowsPerShard)))

  /** Append causal-LM `labels` to packed sequences
    * ([[graft.ops.Packing.withCausalLabels]] — next-token ids with the
    * loss-ignore value past real tokens and across doc boundaries). */
  def withCausalLabels(ignoreId: Int = -100): Pipeline =
    add(MapStep("withCausalLabels",
      graft.ops.Packing.withCausalLabels(_, ignoreId)))

  /** Drop rows near-duplicating ANY document of `reference`
    * ([[graft.ops.Dedup.crossCorpusDedup]] — dedupe a new crawl
    * against the previous training set). */
  def dedupAgainst(
      reference: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): Pipeline =
    add(MapStep("dedupAgainst",
      graft.ops.Dedup.crossCorpusDedup(_, reference, idCol, textCol,
        shingleN, numHashes, bands, threshold)))

  /** Drop rows near-duplicating any entry of a persisted signature
    * catalog ([[graft.ops.Dedup.crossCorpusDedupBySignatures]] —
    * screen-level verdicts; pair with
    * [[graft.ops.Dedup.signatureCatalog]]). */
  def dedupAgainstSignatures(
      catalog: DataFrame, catalogIdCol: String, catalogSigCol: String,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): Pipeline =
    add(MapStep("dedupAgainstSignatures",
      graft.ops.Dedup.crossCorpusDedupBySignatures(_, catalog, catalogIdCol,
        catalogSigCol, idCol, textCol, shingleN, numHashes, bands, threshold)))

  /** Drop rows whose IMAGE near-duplicates any entry of a persisted
    * [[graft.ops.Dedup.imageSignatureCatalog]]
    * ([[graft.ops.Dedup.crossCorpusImageDedup]] — the media siblings
    * of [[dedupAgainstSignatures]]: the catalog carries signatures,
    * never the media bytes). */
  def dedupImagesAgainst(
      catalog: DataFrame, catalogIdCol: String, catalogSigCol: String,
      idCol: String, pngCol: String,
      hashW: Int = 8, hashH: Int = 8, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): Pipeline =
    add(MapStep("dedupImagesAgainst",
      graft.ops.Dedup.crossCorpusImageDedup(_, catalog, catalogIdCol,
        catalogSigCol, idCol, pngCol, hashW, hashH, bands, maxHamming,
        maxBucket)))

  /** Drop rows whose AUDIO near-duplicates any entry of a persisted
    * [[graft.ops.Dedup.audioSignatureCatalog]] (gain-invariant:
    * volume-adjusted re-ships still collide). */
  def dedupAudioAgainst(
      catalog: DataFrame, catalogIdCol: String, catalogSigCol: String,
      idCol: String, wavCol: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): Pipeline =
    add(MapStep("dedupAudioAgainst",
      graft.ops.Dedup.crossCorpusAudioDedup(_, catalog, catalogIdCol,
        catalogSigCol, idCol, wavCol, nBits, bands, maxHamming, maxBucket)))

  /** Drop rows whose VIDEO near-duplicates any entry of a persisted
    * [[graft.ops.Dedup.videoSignatureCatalog]] (re-mux-invariant). */
  def dedupVideoAgainst(
      catalog: DataFrame, catalogIdCol: String, catalogSigCol: String,
      idCol: String, mp4Col: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): Pipeline =
    add(MapStep("dedupVideoAgainst",
      graft.ops.Dedup.crossCorpusVideoDedup(_, catalog, catalogIdCol,
        catalogSigCol, idCol, mp4Col, nBits, bands, maxHamming, maxBucket)))

  /** Drop rows whose EMBEDDING near-duplicates any entry of a
    * persisted [[graft.ops.Dedup.embeddingCatalog]]
    * ([[graft.ops.Dedup.crossCorpusEmbeddingDedup]] — the semantic
    * sibling of the media catalog verbs: "is this document already in
    * the shipped training set, in meaning if not in bytes"). */
  def dedupEmbeddingsAgainst(
      catalog: DataFrame, catalogIdCol: String, catalogVecCol: String,
      idCol: String, vecCol: String,
      threshold: Double = 0.95, exact: Boolean = false,
      maxBucket: Int = 200): Pipeline =
    add(MapStep("dedupEmbeddingsAgainst",
      graft.ops.Dedup.crossCorpusEmbeddingDedup(_, catalog, catalogIdCol,
        catalogVecCol, idCol, vecCol, threshold, exact, maxBucket)))

  /** Drop rows whose embedding near-duplicates any member of a
    * BROADCAST screen catalog
    * ([[graft.ops.Dedup.broadcastEmbeddingScreen]] /
    * [[graft.ops.Dedup.screenEmbeddings]]) — the stateless per-row
    * form of [[dedupEmbeddingsAgainst]]: no join, no shuffle, works
    * unchanged on a streaming pipeline. */
  def screenEmbeddings(
      vecCol: String,
      catalogBc: org.apache.spark.broadcast.Broadcast[graft.functions.ScreenCatalog],
      threshold: Double = 0.95): Pipeline =
    add(MapStep("screenEmbeddings",
      graft.ops.Dedup.screenEmbeddings(_, vecCol, catalogBc, threshold)))

  /** Drop rows whose bit signature (dHash / energy / structure /
    * simhash) sits within `maxHamming` of any member of a BROADCAST
    * signature catalog
    * ([[graft.ops.Dedup.broadcastSignatureScreen]] /
    * [[graft.ops.Dedup.screenSignatures]]) — pigeonhole-exact when
    * the catalog's bands exceed `maxHamming`. */
  def screenSignatures(
      sigCol: String,
      catalogBc: org.apache.spark.broadcast.Broadcast[graft.functions.SigScreenCatalog],
      maxHamming: Int = 5): Pipeline =
    add(MapStep("screenSignatures",
      graft.ops.Dedup.screenSignatures(_, sigCol, catalogBc, maxHamming)))

  /** Drop rows whose normalized text EXACTLY appears in `reference`
    * ([[graft.ops.Dedup.exactCrossDedup]] — bloom-prefiltered
    * incremental-crawl dedup; [[dedupAgainst]] is the near-dup form). */
  def dedupExactAgainst(
      reference: DataFrame, idCol: String, textCol: String,
      fpp: Double = 0.01): Pipeline =
    add(MapStep("dedupExactAgainst",
      graft.ops.Dedup.exactCrossDedup(_, reference, idCol, textCol, fpp)))

  /** Keep only rows passing the Gopher quality rules
    * ([[graft.ops.TextOps.gopherSignals]] /
    * [[graft.ops.TextOps.gopherPass]]) — published thresholds by
    * default; the two most corpus-sensitive knobs (minimum words,
    * required-stopword hits) are exposed because non-English or
    * synthetic corpora routinely need them retuned. The signals
    * struct is computed once as a real column, then dropped. */
  def filterGopher(
      textCol: String, minWords: Int = 50, minStopwordHits: Int = 2): Pipeline =
    add(MapStep("filterGopher", df =>
      df.withColumn("__g__", graft.ops.TextOps.gopherSignals(col(textCol)))
        .filter(graft.ops.TextOps.gopherPass(col("__g__"),
          minWords = minWords, minStopwordHits = minStopwordHits))
        .drop("__g__")))

  /** Keep only rows passing Gopher's REPETITION thresholds
    * ([[graft.ops.TextOps.gopherRepetitionFilter]] — Rae et al. 2021
    * Table A1's other half, next to [[filterGopher]]'s quality
    * rules: duplicate-line/paragraph fractions, top n-gram character
    * claims, AND duplicate 5..10-gram character coverage, all at the
    * published defaults — the complete published table). */
  def filterGopherRepetition(idCol: String, textCol: String): Pipeline =
    add(MapStep("filterGopherRepetition",
      graft.ops.TextOps.gopherRepetitionFilter(_, idCol, textCol)))

  /** C4-style page+line cleanup ([[graft.ops.TextOps.c4Clean]] —
    * Raffel et al. 2020 §2.2: terminal-punctuation/short/boilerplate
    * lines dropped, the page rebuilt, then lorem-ipsum / `{` /
    * too-few-sentences pages dropped whole). Rewrites `textCol` in
    * place; pages that fail drop from the pipeline. */
  def cleanC4(
      idCol: String, textCol: String,
      minWords: Int = 5, minSentences: Int = 3): Pipeline =
    add(MapStep("cleanC4",
      graft.ops.TextOps.c4Clean(_, idCol, textCol, minWords, minSentences)))

  /** SemDeDup-style semantic near-dedup over an embedding column
    * ([[graft.ops.Dedup.semDedup]] — kmeans cells bound the pairwise
    * cosine work; corpus-sized quantizer, the scale-safe default —
    * `params.targetCell` pins expected cell occupancy; the options
    * type exists so calls written against the old fixed-`nCells`
    * positional slot fail to compile instead of silently
    * re-interpreting). */
  def dedupSemantic(
      idCol: String, vecCol: String, threshold: Double = 0.95,
      params: graft.ops.Dedup.SemDedupParams =
        graft.ops.Dedup.SemDedupParams()): Pipeline =
    add(MapStep("dedupSemantic",
      graft.ops.Dedup.semDedup(_, idCol, vecCol, threshold, params)))

  /** Attach the typed media metadata struct for a binary payload
    * column ([[graft.ops.Multimodal.withMediaMeta]]: MIME sniff, size,
    * content hash). */
  def withMediaMeta(payloadCol: String, metaCol: String = "media_meta"): Pipeline =
    add(MapStep("mediaMeta",
      graft.ops.Multimodal.withMediaMeta(_, payloadCol, metaCol)))

  /** Append header-level media dimensions/sample-rate
    * ([[graft.ops.Multimodal.mediaDims]]) — the pre-decode
    * resolution gate; NULL struct on non-media payloads. */
  def withMediaDims(payloadCol: String, dimsCol: String = "media_dims"): Pipeline =
    add(MapStep("mediaDims", df => df
      .withColumn(dimsCol, graft.ops.Multimodal.mediaDims(col(payloadCol)))))

  /** Re-layout the flow into `nPartitions` Z-ordered ranges over the
    * given dimensions ([[graft.ops.Layout.zorderBy]]) — write the
    * result with any sink and min/max stats prune scans on ANY keyed
    * dimension. Bucketize skewed dims (modulo / quantile rank) first. */
  def zorderBy(nPartitions: Int, bits: Int, dims: org.apache.spark.sql.Column*): Pipeline =
    add(MapStep("zorderBy",
      graft.ops.Layout.zorderBy(_, nPartitions, bits, dims: _*)))

  /** Write the flow as Avro container files (one per partition,
    * [[graft.sources.Avro.write]]) and keep flowing — the interchange
    * sink for downstream consumers that speak Avro, symmetric with
    * [[graft.sources.Avro.source]]. The writer may run more than one
    * action (`Par.spreadNarrow`), so [[go]] keeps its counting pass. */
  def saveAvro(dir: String): Pipeline =
    add(SinkStep(s"saveAvro($dir)", df => {
      graft.sources.Avro.write(df, dir)
      Map("file" -> dir, "filename" -> dir)
    }))

  /** TFRecord/tf.Example shard sink ([[graft.sources.TfRecord.write]])
    * — the dataloader-facing export of a prepared corpus; symmetric
    * with [[graft.sources.TfRecord.source]]. Shard count = the flow's
    * partitioning. The write is one RDD action over the plan's internal
    * rows, outside any SQL execution, so no observation on the frame
    * would be reported: [[go]] keeps its counting pass. */
  def saveTfRecord(dir: String, gzip: Boolean = false): Pipeline =
    add(SinkStep(s"saveTfRecord($dir)", df => {
      graft.sources.TfRecord.write(df, dir, gzip)
      Map("file" -> dir, "filename" -> dir)
    }))

  /** Persist the flow as a bucketed (co-located) catalog table
    * ([[graft.ops.Bucketing.writeBucketed]]) — later equi-joins on
    * `keys` against same-bucketed tables plan with zero exchanges.
    * May run more than one action, so [[go]] keeps its counting pass. */
  def saveBucketed(table: String, keys: Seq[String], numBuckets: Int,
      path: Option[String] = None): Pipeline =
    add(SinkStep(s"saveBucketed($table)", df => {
      graft.ops.Bucketing.writeBucketed(df, table, keys, numBuckets, path)
      Map("file" -> table, "filename" -> table)
    }))

  /** Append canonical URL, host, and registered-domain columns
    * ([[graft.ops.UrlOps]] — the standard web-corpus dedup key). */
  def withUrlColumns(urlCol: String): Pipeline =
    add(MapStep("urlColumns", df => df
      .withColumn("url_norm", graft.ops.UrlOps.normalizeUrl(col(urlCol)))
      .withColumn("url_domain", graft.ops.UrlOps.extractDomain(col(urlCol)))
      .withColumn("url_registered",
        graft.ops.UrlOps.registeredDomain(graft.ops.UrlOps.extractDomain(col(urlCol))))))

  /** Collapse the flow into the corpus health report
    * ([[graft.ops.Report.corpusReport]]). */
  def report(textCol: String, dims: Seq[String], approxDistinct: Boolean = false): Pipeline =
    add(MapStep("report",
      graft.ops.Report.corpusReport(_, textCol, dims, approxDistinct)))

  /** Per-stratum keep fractions — data mixing / source reweighting
    * ([[graft.ops.Sampling.sampleByStratum]]). */
  def sampleByStratum(
      keyCol: String, stratumCol: String,
      fractions: Seq[(String, Double)], defaultFraction: Double,
      salt: String): Pipeline =
    add(MapStep("sampleByStratum",
      graft.ops.Sampling.sampleByStratum(_, col(keyCol), col(stratumCol),
        fractions, defaultFraction, salt)))

  /** Token-budget mixture — take `budgets(stratum)` weight per stratum
    * in deterministic hash order
    * ([[graft.ops.Sampling.sampleByTokenBudget]]). */
  def sampleByTokenBudget(
      keyCol: String, stratumCol: String, weightCol: String,
      budgets: Seq[(String, Long)], salt: String): Pipeline =
    add(MapStep("sampleByTokenBudget",
      graft.ops.Sampling.sampleByTokenBudget(_, col(keyCol), stratumCol,
        weightCol, budgets, salt)))

  /** Temperature mixture sampling — keep fractions ∝ stratum_size^alpha
    * toward an expected `targetDocs`-document draw
    * ([[graft.ops.Sampling.sampleByTemperature]]). */
  def sampleByTemperature(
      keyCol: String, stratumCol: String, targetDocs: Long,
      alpha: Double, salt: String): Pipeline =
    add(MapStep("sampleByTemperature",
      graft.ops.Sampling.sampleByTemperature(_, col(keyCol), stratumCol,
        targetDocs, alpha, salt)))

  /** [[sampleByTemperature]] with stratum size measured in a weight
    * column's units — temperature over TOKEN MASS
    * ([[graft.ops.Sampling.sampleByTokenTemperature]]). */
  def sampleByTokenTemperature(
      keyCol: String, stratumCol: String, weightCol: String,
      targetTokens: Long, alpha: Double, salt: String): Pipeline =
    add(MapStep("sampleByTokenTemperature",
      graft.ops.Sampling.sampleByTokenTemperature(_, col(keyCol), stratumCol,
        weightCol, targetTokens, alpha, salt)))

  /** Soft quality filtering — keep each row with probability
    * `probCol` clamped to [0, 1], decided by the engine-portable
    * (key, salt) hash ([[graft.ops.Sampling.sampleByProbability]]). */
  def sampleByProbability(
      keyCol: String, probCol: Column, salt: String): Pipeline =
    add(MapStep("sampleByProbability",
      graft.ops.Sampling.sampleByProbability(_, col(keyCol), probCol, salt)))

  /** Deterministic fractional OVERSAMPLING — epoch-style replication
    * of boosted strata ([[graft.ops.Sampling.oversampleByMultiplicity]];
    * appends the `copy` epoch index). */
  def oversampleByMultiplicity(
      keyCol: String, stratumCol: String,
      multiplicities: Seq[(String, Double)], salt: String): Pipeline =
    add(MapStep("oversampleByMultiplicity",
      graft.ops.Sampling.oversampleByMultiplicity(_, col(keyCol), stratumCol,
        multiplicities, salt)))

  /** Audit packed sequences before shipping
    * ([[graft.ops.Packing.packAudit]]). */
  def packAudit(): Pipeline =
    add(MapStep("packAudit", graft.ops.Packing.packAudit(_)))

  /** Append the stride-scheduled training-order priority for a
    * weighted mixture ([[graft.ops.Sampling.interleaveByWeight]]). */
  def interleaveByWeight(
      keyCol: String, stratumCol: String,
      weights: Seq[(String, Double)], salt: String): Pipeline =
    add(MapStep("interleaveByWeight",
      graft.ops.Sampling.interleaveByWeight(_, col(keyCol), stratumCol,
        weights, salt)))

  /** Audit a token-budget cut against its budgets
    * ([[graft.ops.Sampling.mixtureAudit]]). */
  def mixtureAudit(
      stratumCol: String, weightCol: String,
      budgets: Seq[(String, Long)]): Pipeline =
    add(MapStep("mixtureAudit",
      graft.ops.Sampling.mixtureAudit(_, stratumCol, weightCol, budgets)))

  /** Explode each document into chunks of ≤ `maxTokens` REAL tokenizer
    * tokens ([[graft.ops.Bpe.chunkByTokenCount]] — greedy word-fill
    * under a broadcast BPE model). */
  def chunkByTokenCount(
      idCol: String, textCol: String, maxTokens: Int,
      modelBc: org.apache.spark.broadcast.Broadcast[graft.functions.BpeModel]): Pipeline =
    add(MapStep("chunkByTokenCount",
      graft.ops.Bpe.chunkByTokenCount(_, idCol, textCol, maxTokens, modelBc)))

  /** Append the REAL tokenizer's token count of `textCol`
    * ([[graft.ops.Bpe.withTokenCount]] — the budget unit for
    * [[sampleByTokenBudget]]/[[packShards]]/[[buildShards]]). */
  def withBpeTokenCount(
      textCol: String, as: String,
      modelBc: org.apache.spark.broadcast.Broadcast[graft.functions.BpeModel]): Pipeline =
    add(MapStep("withBpeTokenCount",
      graft.ops.Bpe.withTokenCount(_, textCol, as, modelBc)))

  /** Append the REAL tokenizer's token-ID array of `textCol`
    * ([[graft.ops.Bpe.withTokenIds]] — encode-to-ids under the model's
    * derived vocabulary; feed [[packTokenIds]]). */
  def withBpeTokenIds(
      textCol: String, as: String,
      modelBc: org.apache.spark.broadcast.Broadcast[graft.functions.BpeModel]): Pipeline =
    add(MapStep("withBpeTokenIds",
      graft.ops.Bpe.withTokenIds(_, textCol, as, modelBc)))
}

/** gratum SortConfig (SortConfig.groovy:8-13) — see [[Pipeline.sortWith]]. */
final case class SortSpec(
    keys: Seq[Column],
    pageSize: Int = 0,
    after: Option[java.io.File => Unit] = None,
    downstream: Boolean = true)

object Pipeline {

  /** [[Pipeline.groupTree]] driver-collect guard. */
  val GroupTreeMaxRows: Long = 1000000L

  /** Entry point over any DataFrame (gratum `Source.into`). */
  def of(name: String, df: => DataFrame): Pipeline =
    new Pipeline(name, () => df, Vector.empty, Vector.empty, Vector.empty)

  def of(df: => DataFrame): Pipeline = of("pipeline", df)

  /** Helper column of a typed step's converted value (see `typedStep`). */
  private val TypedValue = "__graft_typed__"

  /** Groovy-falsy test used by defaultValues/defaultsBy/fillDown,
    * mirroring the reference's `if(!row[column])` (Pipeline.groovy:
    * 1073-1094) under Groovy truthiness: null; empty string; numeric
    * zero; boolean false; empty array/map. One documented deviation:
    * whitespace-only strings are falsy here (Groovy treats " " as
    * truthy) — blank-vs-empty is a distinction the reference's own CSV
    * sources erase, and filling blanks is what users expect. */
  private[etl] def falsy(df: DataFrame, c: String): Column =
    graft.ops.OrderedFill.falsy(df, c) // one definition — cannot drift
}

/** gratum SortOrder (SortOrder.groovy:3-6). */
sealed trait SortOrder
object SortOrder {
  case object ASC extends SortOrder
  case object DESC extends SortOrder
}
