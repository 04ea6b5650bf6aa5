package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}

/** CPU time the program's own threads have used: the driver, Spark's
  * task and service threads. The JIT compiler and GC threads are not
  * Java threads, so they are left out, and so is any time the host
  * gives to other tenants, which stretches wall time on a busy host. */
object Cpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  private def threads(): Map[Long, Long] =
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** A point to measure from. A thread that ends before `since()` takes
    * its CPU from the mark on with it; the pools' threads outlive a pass. */
  final class Mark private[Cpu] (at: Map[Long, Long]) {
    /** Seconds used since the mark, summed over the live threads. */
    def since(): Double =
      threads().iterator.map { case (id, ns) => ns - at.getOrElse(id, 0L) }.sum / 1e9
  }

  def mark(): Mark = new Mark(threads())
}

/** Metrics of one run in the order they were measured. */
final class Metrics {
  /** name → (unit, value) */
  val values = scala.collection.mutable.LinkedHashMap.empty[String, (String, Double)]
  def update(name: String, unitAndValue: (String, Double)): Unit = values(name) = unitAndValue
  def ++=(kvs: Iterable[(String, (String, Double))]): Unit = values ++= kvs
}

/** Settings and scratch space shared by every session of one run. */
final case class RunEnv(work: Path, cpus: Int) {
  Files.createDirectories(work)
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** A local session with the settings every workload runs under. The
    * status store keeps a bounded history, so the driver heap reaches
    * a steady state within a run and `retained_heap_mb` shows leaks,
    * not the number of passes. */
  def session(master: String = s"local[$cpus]"): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** (bytes, files) of the regular files under `p`, hidden ones
    * (`_SUCCESS`, `.crc`) excluded. */
  def sizeOf(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var bytes, files = 0L
      s.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).forEach { f => bytes += Files.size(f); files += 1 }
      (bytes, files)
    } finally s.close()
  }

  def writeLines(p: Path, lines: Array[String]): Unit = {
    val w = Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

/** A closed-loop batch workload: every pass reads the generated input
  * and runs to a complete result, which is then checked. */
trait BatchWorkload {
  type Out

  /** Builds the inputs for `seed` and writes them under `dir`; keeps
    * what the checker expects. */
  def generate(spark: SparkSession, seed: Long, dir: Path): Unit

  /** Work a session needs before its first pass (part of set-up). */
  def prepare(spark: SparkSession): Unit = ()

  /** One pass, timed by the caller. */
  def run(spark: SparkSession, t: Tracer): Out

  /** Problems found in `out` against the independent reference
    * (empty = correct). `corrupt` damages the output first, to show
    * the checker catches it. */
  def check(spark: SparkSession, out: Out, corrupt: Boolean): Seq[String]

  /** Per-layer metrics of a traced run: read from the last traced
    * pass's output and from isolated actions over the same input. */
  def layers(spark: SparkSession, t: Tracer, out: Out, probe: SparkCounters): Seq[(String, (String, Double))]
}

/** Times a block, with the Spark totals it caused. */
object Probe {
  def apply(c: SparkCounters)(body: => Unit): (Double, SparkTotals) = {
    c.take()
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e9, c.take())
  }

  /** Runs `df` to the end without keeping its rows. */
  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
