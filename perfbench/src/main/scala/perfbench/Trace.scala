package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One call from the benchmark into a layer of graft. */
final case class Span(
    id: Int, parent: Int, layer: String, name: String, pass: Int,
    startNs: Long, endNs: Long, jobs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into each layer, kept in
  * memory and written out when the run ends. Disabled, `span` only runs
  * its body, so untraced passes pay nothing. Single-threaded by design:
  * the parent of a span is the innermost span open when it starts.
  * `jobs` reads the Spark job count, so each span records the jobs it
  * ran. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var enabled = false
  var pass = 0
  var jobs: () => Long = () => 0L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += null // reserve the id; filled in when the span closes
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val j0 = jobs()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans(id) = Span(id, parent, layer, name, pass, t0, t1, jobs() - j0)
      }
    }

  private def closed: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Per pass, each layer's self time: its spans' durations minus the
    * parts their child spans cover. */
  def selfSeconds: Map[Int, Map[String, Double]] = {
    val childNs = closed.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    closed.groupBy(_.pass).map { case (pass, ss) =>
      pass -> ss.groupBy(_.layer).map { case (layer, ls) =>
        layer -> ls.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
      }
    }
  }

  /** Median over the traced passes of `f` summed over the spans named
    * `layer.name`. */
  def median(layer: String, name: String)(f: Span => Double): Double = {
    val byPass = closed.groupBy(_.pass)
    Stats.median(byPass.values.toSeq.map(
      _.filter(s => s.layer == layer && s.name == name).map(f).sum))
  }

  /** Median over the traced passes of the jobs run inside top-level
    * spans. It equals `spark.jobs` when every job of a pass ran inside
    * one of the benchmark's calls into graft. */
  def spanJobs: Double =
    Stats.median(closed.groupBy(_.pass).values.toSeq.map(
      _.filter(_.parent == -1).map(_.jobs.toDouble).sum))

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.filter(_ != null).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Totals of the Spark runtime over a window, read from listener
  * events. */
final case class SparkTotals(
    jobs: Long, stages: Long, tasks: Long,
    taskBusyMs: Long, taskCpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputBytes: Long,
    planMs: Long, jobIntervals: Seq[(Long, Long)]) {

  /** Wall milliseconds covered by at least one job. */
  def jobUnionMs: Long = {
    var covered = 0L; var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** The benchmark's own listeners: a SparkListener for jobs, stages,
  * tasks, bytes and spill, and a QueryExecutionListener for driver
  * planning time (analysis, optimization and planning phases).
  * Registered only in traced runs. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  private val lock = new Object
  private var jobs, stages, tasks, busy, cpu, gc, sw, sr, spill, in, plan = 0L
  private var jobsEver = 0L
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      lock.synchronized(plan += ms)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(planListener)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    lock.synchronized { jobs += 1; jobsEver += 1; jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lock.synchronized(jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time))))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized(stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) lock.synchronized {
      tasks += 1
      busy += m.executorRunTime; cpu += m.executorCpuTime; gc += m.jvmGCTime
      sw += m.shuffleWriteMetrics.bytesWritten
      sr += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      in += m.inputMetrics.bytesRead
    }
  }

  /** Jobs started since the listener was registered. */
  def jobsSoFar(): Long = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    lock.synchronized(jobsEver)
  }

  /** Totals since the previous call; waits for the listener bus first. */
  def take(): SparkTotals = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    lock.synchronized {
      val t = SparkTotals(jobs, stages, tasks, busy, cpu, gc, sw, sr, spill, in, plan,
        intervals.toSeq)
      jobs = 0; stages = 0; tasks = 0; busy = 0; cpu = 0; gc = 0
      sw = 0; sr = 0; spill = 0; in = 0; plan = 0; intervals.clear()
      t
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }
}
