package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable

/** Optimization-round instrumentation main (guide §1): runs selected
  * queries with a stage-level listener and reports where the time goes
  * — per-stage wall clock, task counts, shuffle bytes — plus the
  * counters the pair operators observed on the measured run (one
  * `counters` line, see [[graft.ops.Occupancy]]) and the
  * `.explain("formatted")` plan to `plans/<tag>/<query>_<suffix>.txt`.
  *
  * Usage: runMain graft.Profile [--plans r21,before] [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  * Not part of the driver contract; purely a measurement tool.
  */
object Profile {

  /** Collects the counters the operators observe (names under
    * `graft.`, see [[graft.ops.Occupancy]]) from every execution it
    * sees; the last value posted under a name wins. */
  private[graft] final class Counters
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private val seen = mutable.LinkedHashMap.empty[String, org.apache.spark.sql.Row]
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (k, v) =>
        if (k.startsWith("graft.")) seen.synchronized(seen(k) = v)
      }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()

    /** Runs `body` with the listener attached and returns what it
      * threw or returned, with the counters of its executions; every
      * listener event of `body` has been delivered on return. */
    def during[A](spark: org.apache.spark.sql.SparkSession)(body: => A)
        : (Either[Throwable, A], Map[String, org.apache.spark.sql.Row]) = {
      seen.synchronized(seen.clear())
      spark.listenerManager.register(this)
      try {
        val result = try Right(body) catch { case e: Exception => Left(e) }
        Bridge.drainListeners(spark)
        (result, seen.synchronized(seen.toMap))
      } finally spark.listenerManager.unregister(this)
    }
  }

  private case class StageRec(
      id: Int, name: String, tasks: Int, ms: Long,
      shuffleReadMb: Double, shuffleWriteMb: Double, inputMb: Double)

  def main(args: Array[String]): Unit = {
    var plansDir: Option[(String, String)] = None
    val names = mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      if (args(i) == "--plans") {
        val Array(tag, suffix) = args(i + 1).split(","); i += 2
        plansDir = Some((tag, suffix))
      } else { names += args(i); i += 1 }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    val qnames = if (names.nonEmpty) names.toSeq
      else SparkEntry.queries.keys.toSeq.sorted

    val stages = mutable.Map[Int, StageRec]()
    val jobs = mutable.Buffer[(Int, Long)]() // jobId, ms
    val jobStart = mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {s <- si.submissionTime; e <- si.completionTime} yield e - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.synchronized {
          stages(si.stageId) = StageRec(si.stageId, si.name, si.numTasks, ms,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6)
        }
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized { jobStart(j.jobId) = j.time }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobStart.get(j.jobId).foreach(t0 => jobs += ((j.jobId, j.time - t0)))
      }
    }

    // sub-execution plan capture: operators that materialize
    // internally (localCheckpoint/persist guards) hide their real
    // plans from a top-level explain — a QueryExecutionListener sees
    // every action's EXECUTED plan (post-AQE), so the dumped file
    // carries the whole query's physical story.
    val subPlans = mutable.Buffer[String]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = subPlans.synchronized {
        subPlans += s"== sub-execution: $funcName (${durationNs / 1000000} ms) ==\n" +
          qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }

    val counters = new Counters
    for (name <- qnames) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // plan dump: the top-level plan (pre-execution; AQE initial)
      // plus every sub-execution's executed plan, captured while the
      // top-level frame is CONSTRUCTED and run once
      plansDir.foreach { case (tag, suffix) =>
        val dir = java.nio.file.Path.of(s"plans/$tag")
        java.nio.file.Files.createDirectories(dir)
        subPlans.synchronized(subPlans.clear())
        spark.listenerManager.register(qeListener)
        val plan = try {
          val df = fn(spark, sfDir)
          val top = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          df.write.format("noop").mode("overwrite").save()
          top
        }
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
        Bridge.drainListeners(spark)
        spark.listenerManager.unregister(qeListener)
        val all = subPlans.synchronized(
          (s"== top-level plan ==\n$plan" +: subPlans.toSeq).mkString("\n\n"))
        java.nio.file.Files.writeString(dir.resolve(s"${name}_$suffix.txt"), all)
      }
      // warm run (codegen) then measured run
      spark.sparkContext.setJobDescription(s"$name warm")
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[profile] $name warm FAILED: $e") }
      stages.clear(); jobs.clear(); jobStart.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(s"$name measured")
      var wallMs = 0.0
      val (result, observed) = counters.during(spark) {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() finally wallMs = (System.nanoTime() - t0) / 1e6
      }
      val n = result.fold({ e => System.err.println(s"[profile] $name FAILED: $e"); -1L }, identity)
      spark.sparkContext.removeSparkListener(listener) // during() drained its events
      val ss = stages.values.toSeq.sortBy(-_.ms)
      val stageSum = ss.map(_.ms).sum
      println(f"\n=== $name  wall=${wallMs / 1000}%.3fs rows=$n jobs=${jobs.size} stages=${ss.size} stageSum=${stageSum / 1000.0}%.3fs (gap=${(wallMs - stageSum) / 1000.0}%.3fs sched/driver)")
      ss.take(14).foreach { s =>
        println(f"    stage ${s.id}%4d ${s.ms}%6dms tasks=${s.tasks}%4d in=${s.inputMb}%8.2fMB sRead=${s.shuffleReadMb}%8.2fMB sWrite=${s.shuffleWriteMb}%8.2fMB  ${s.name.take(90)}")
      }
      if (observed.nonEmpty)
        println("    counters " + observed.map { case (k, r) =>
          r.schema.fieldNames.zip(r.toSeq).map { case (f, v) => s"$f=$v" }
            .mkString(s"$k{", ",", "}")
        }.mkString(" "))
    }
    spark.stop()
  }
}
