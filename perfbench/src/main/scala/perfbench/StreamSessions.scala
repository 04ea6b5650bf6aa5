package perfbench

import graft.sources.Sources
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Open-loop session aggregation. One thread renames pre-written
  * parquet files into a watched directory at a fixed rate, on a
  * schedule that does not slow down when graft does; `Streams.sessionAgg`
  * with a watermark runs over the directory in append mode, triggered
  * once a second, so each micro-batch reads the same number of files
  * however long the last one took. Each micro-batch's CPU seconds are
  * read when its progress is reported. Each file is timed from when it
  * was due until the micro-batch that read it commits; a file that
  * never commits counts as failed. */
final class StreamSessions(env: RunEnv, seed: Long, seconds: Double, traced: Boolean,
    corrupt: Boolean) {
  val Rate = 5.0 // files per second
  val TriggerMs = 1000L
  val PerFile = 1000
  val Users = 5000
  val Gap = "30 seconds"
  val WatermarkMs = 15000L // wider than one file's span of event time
  /** The p95 latency a user of the stream would accept. */
  val LatencyLimitS = 2.0

  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  private val staging = env.dir("staging")
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Program CPU seconds from the first file on when each progress
    * report arrived, by batch. */
  private val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  @volatile private var fed: Option[Cpu.Mark] = None

  private def log(s: String): Unit = Main.log(s)

  /** Writes the event files and the end-of-stream sentinel, flat, into
    * the staging directory. */
  private def generate(spark: SparkSession, files: Int): Long = {
    import spark.implicits._
    val ev = Gen.events(seed, files, PerFile, Users)
    val raw = env.work.resolve("raw")
    val rows = ev.files.indices.flatMap(f => ev.files(f).map { case (u, ts, v) =>
      (f, u, new java.sql.Timestamp(ts), v) })
    rows.toDF("file", "user_id", "ts", "value")
      .repartition(col("file")).sortWithinPartitions("ts")
      .write.partitionBy("file").parquet(raw.toString)
    (0 until files).foreach { f =>
      val part = Files.list(raw.resolve(s"file=$f")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, staging.resolve(f"f-$f%05d.parquet"))
    }
    // an event far in the future advances the watermark past every
    // real session, so append mode emits them all
    Seq((-1L, new java.sql.Timestamp(sentinelMs(files)), 0.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(raw.resolve("sentinel").toString)
    val sentinel = Files.list(raw.resolve("sentinel")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(sentinel, staging.resolve("sentinel.parquet"))
    Fs.deleteTree(raw)
    ev.total
  }

  /** Event time of the sentinel, a day after the last real event. */
  private def sentinelMs(files: Int): Long = Gen.StreamBaseMs + files * Gen.FileSpanMs + 86400000L

  private def sessions(df: DataFrame): DataFrame =
    Streams.sessionAgg(df, "ts", s"${WatermarkMs / 1000} seconds", Gap, Seq("user_id"))(
      count(lit(1)).as("events"), sum(col("value")).as("total"))

  private val watched: Path = env.work.resolve("watched")
  private val checkpoint: Path = env.work.resolve("checkpoint")

  /** Starts the query on the empty watched directory. */
  private def startQuery(spark: SparkSession): (SparkSession, StreamingQuery) = {
    Files.createDirectories(watched)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        fed.foreach(c => cpuAt.put(e.progress.batchId, c.since()))
        progress.add(e.progress)
      }
    })
    val q = sessions(Streams.parquetStream(spark, watched.toString, schema))
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    (spark, q)
  }

  /** File name → batch id, from the file source's own log. */
  private def fileBatches(): Map[String, Long] = {
    val log = checkpoint.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(log).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
      .toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  def run(): Main.Outcome = {
    val m = new Metrics
    val files = math.max(20, (Rate * seconds).round.toInt)
    var total = 0L
    val (setupCpu, (spark, query)) =
      Main.setup(env, startQuery)(s => total = generate(s, files))
    progress.clear()
    val counters = if (traced) Some(new SparkCounters(spark)) else None

    // the open loop: file i is due at start + i / Rate, whatever graft
    // does. Triggers fire on whole multiples of TriggerMs; files fall
    // due half a period away from them, so a late file seldom slips
    // into the next batch.
    val now = System.currentTimeMillis()
    val start = now - now % TriggerMs + TriggerMs + TriggerMs / 2 + 100
    fed = Some(Cpu.mark())
    val due = Array.tabulate(files)(i => start + (i * 1000 / Rate).toLong)
    val late = Array.fill(files)(0L)
    (0 to files).foreach { i =>
      val at = if (i < files) due(i) else start + (files * 1000 / Rate).toLong
      val wait = at - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val name = if (i < files) f"f-$i%05d.parquet" else "sentinel.parquet"
      Files.move(staging.resolve(name), watched.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      if (i < files) late(i) = System.currentTimeMillis() - due(i)
    }
    // wait for the batch that runs with the sentinel's watermark
    val sentinelWm = sentinelMs(files) - WatermarkMs
    val deadline = System.currentTimeMillis() + 60000
    def done = progress.asScala.exists(p =>
      Option(p.eventTime.get("watermark")).exists(w => java.time.Instant.parse(w).toEpochMilli >= sentinelWm))
    while (!done && System.currentTimeMillis() < deadline && query.isActive) Thread.sleep(20)
    val gaveUp = System.currentTimeMillis()
    query.stop()
    query.exception.foreach(e => log(s"query failed: $e"))
    val totals = counters.map { c => val t = c.take(); c.close(); t }

    // an idle trigger reports the id of the batch still to come; keep
    // each batch's last report
    val ps = progress.asScala.toSeq.groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
    val commitAt = ps.map(p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration)).toMap
    val batchOf = fileBatches()
    val latency: Array[Option[Double]] = Array.tabulate(files) { i =>
      batchOf.get(f"f-$i%05d.parquet").flatMap(commitAt.get).map(c => (c - due(i)) / 1000.0)
    }
    val missing = latency.count(_.isEmpty)

    // the stream's output against a batch sessionAgg over the same files
    val key = (u: Long, s: java.sql.Timestamp, e: java.sql.Timestamp, n: Long) => (u, s.getTime, e.getTime, n)
    def rows(df: DataFrame) = df.filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_window.start"), col("session_window.end"), col("events"), col("total"))
      .collect().map(r => key(r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)) -> r.getDouble(4))
    val got0 = rows(spark.table("sessions"))
    val got = if (corrupt) got0.drop(1) else got0
    val want = rows(sessions(Sources.parquet(spark, watched.toString).toDF))
    val wantMap = want.toMap
    val outputOk = got.length == want.length && got.forall { case (k, v) =>
      wantMap.get(k).exists(w => math.abs(w - v) <= 1e-6 * math.max(1.0, math.abs(w)))
    }
    val input = ps.map(_.numInputRows).sum
    log(s"stream: $files files, ${ps.length} batches, $input of ${total + 1} rows read, " +
      s"${got.length} sessions (want ${want.length}), $missing files never committed" +
      (if (outputOk) "" else " OUTPUT MISMATCH"))

    // a file that never commits misses any latency limit: it counts
    // with the time until the run stopped waiting for it
    val lat = latency.toSeq.zipWithIndex.map { case (l, i) => l.getOrElse((gaveUp - due(i)) / 1000.0) }
    // As for the batch passes, what falls in the first `Main.Settle`
    // share of the window lets the JIT settle and the rest is measured.
    // A micro-batch's CPU is the program's CPU between its progress
    // report and the one before; the cold one is the first micro-batch
    // that read data, with the CPU from the first file on. The cold
    // latency is the median of the files due in the first two seconds,
    // which all wait on the first, cold micro-batches.
    val cpuOf = (None +: ps.map(Some(_))).zip(ps).map { case (prev, p) =>
      p -> (cpuAt.get(p.batchId) - prev.map(q => cpuAt.get(q.batchId)).getOrElse(0.0))
    }
    val data = cpuOf.filter(_._1.numInputRows > 0)
    val firstData = data.headOption.map(_._1.batchId).getOrElse(-1L)
    val settled = start + (files * Main.Settle / Rate * 1000).toLong
    val measuredCpu = data.filter { case (p, _) =>
      p.batchId != firstData && java.time.Instant.parse(p.timestamp).toEpochMilli >= settled
    }.map(_._2)
    val firstCpu = data.headOption.map(p => cpuAt.get(p._1.batchId)).getOrElse(Double.NaN)
    m("setup_s") = "s" -> setupCpu
    m("first_pass_cpu_s") = "s" -> firstCpu
    m("pass_cpu_s_p50") = "s" -> Stats.median(measuredCpu)
    m("batches_measured") = "count" -> measuredCpu.length.toDouble
    val measured = lat.drop((files * Main.Settle).toInt)
    m("first_pass_s") = "s" -> Stats.median(lat.take((2 * Rate).toInt))
    m("pass_s_p50") = "s" -> Stats.median(measured)
    m("passes_measured") = "count" -> measured.length.toDouble
    m("streaming.latency_ms_p90") = "ms" -> Stats.quantile(measured, 0.9) * 1000
    m("streaming.latency_ms_p95") = "ms" -> Stats.quantile(measured, 0.95) * 1000
    m("streaming.over_limit_frac") = "ratio" -> measured.count(_ > LatencyLimitS).toDouble / measured.length
    m("streaming.feeder_late_ms_max") = "ms" -> late.max.toDouble

    if (!traced) m("retained_heap_mb") = "MB" -> Main.retainedHeapMb(spark)
    totals.foreach { tot =>
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trig = ps.map(dur(_, "triggerExecution"))
      val commits = latency.zipWithIndex.flatMap { case (l, i) => l.map(x => due(i) + (x * 1000).toLong) }
      val backlog = due.map(d => due.indices.count(j => due(j) <= d && latency(j).forall(l => due(j) + l * 1000 > d)))
      val runS = (commits.maxOption.getOrElse(start) - start) / 1000.0
      m ++= Seq(
        "streaming.batches" -> ("count", ps.length.toDouble),
        "streaming.trigger_ms_p50" -> ("ms", Stats.median(trig)),
        "streaming.trigger_ms_p95" -> ("ms", Stats.quantile(trig, 0.95)),
        "streaming.add_batch_ms_p50" -> ("ms", Stats.median(ps.map(dur(_, "addBatch")))),
        "streaming.overhead_ms_p50" -> ("ms", Stats.median(ps.map(p => dur(p, "triggerExecution") - dur(p, "addBatch")))),
        "streaming.query_planning_ms_p50" -> ("ms", Stats.median(ps.map(dur(_, "queryPlanning")))),
        "streaming.wal_commit_ms_p50" -> ("ms", Stats.median(ps.map(dur(_, "walCommit")))),
        "streaming.state_rows" -> ("count", ps.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L).toDouble),
        "streaming.state_bytes" -> ("B", ps.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L).toDouble),
        "streaming.backlog_files_max" -> ("count", backlog.max.toDouble),
        "spark.jobs" -> ("count", tot.jobs.toDouble),
        "spark.stages" -> ("count", tot.stages.toDouble),
        "spark.tasks" -> ("count", tot.tasks.toDouble),
        "spark.driver_plan_ms" -> ("ms", tot.planMs.toDouble),
        "spark.task_busy_s" -> ("s", tot.taskBusyMs / 1000.0),
        "spark.task_cpu_s" -> ("s", tot.taskCpuNs / 1e9),
        "spark.core_util" -> ("ratio", tot.taskBusyMs / 1000.0 / (runS * env.cpus)),
        "spark.shuffle_write_bytes" -> ("B", tot.shuffleWrite.toDouble),
        "spark.shuffle_read_bytes" -> ("B", tot.shuffleRead.toDouble),
        "spark.spill_bytes" -> ("B", tot.spill.toDouble),
        "spark.gc_s" -> ("s", tot.gcMs / 1000.0))
      val readProbe = new SparkCounters(spark)
      val (readS, read) = Probe(readProbe)(Probe.noop(Sources.parquet(spark, watched.toString).toDF))
      readProbe.close()
      m ++= Seq(
        "sources.read_s" -> ("s", readS),
        "sources.rows" -> ("count", (total + 1).toDouble),
        "sources.input_bytes" -> ("B", read.inputBytes.toDouble))
    }
    spark.stop()
    val failed = if (outputOk) missing else files
    Main.Outcome(files, failed, m)
  }
}
