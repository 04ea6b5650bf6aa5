package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Paths

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR` runs one
  * workload and prints, last, `PERFBENCH_RESULT {json}` with every
  * metric it measured. `--corrupt` damages each output before it is
  * checked (the checker self-test). `--selftest-gen` checks that the
  * generators are deterministic in their seed. */
object Main {

  final case class Outcome(attempted: Int, failed: Int, metrics: Metrics)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val flags = argv.toSet
    if (flags("--selftest-gen")) { System.exit(if (selftestGen()) 0 else 1) }
    val workload = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traced = args.getOrElse("--trace", "0") == "1"
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val env = RunEnv(Paths.get(args("--work")), cpus)
    val corrupt = flags("--corrupt")
    val o = workload match {
      case "stream_sessions" =>
        new StreamSessions(env, seed, seconds, traced, corrupt).run()
      case other =>
        val wl: BatchWorkload = other match {
          case "etl_csv" => new EtlCsv(files = 4, rows = 150000, products = 20000)
          case "train_pack" => new TrainPack(docs = 10000)
          case _ => throw new IllegalArgumentException(s"unknown workload $other")
        }
        runBatch(env, wl, seed, seconds, traced, corrupt)
    }
    val ms = o.metrics.values.map { case (k, (u, v)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }
    println(s"""PERFBENCH_RESULT {"correct":${o.failed == 0},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":{${ms.mkString(",")}}}""")
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out
    System.exit(0)
  }

  /** Warm passes that only let the JIT settle and are not measured.
    * A count, not a share of the window, so that a slow host does not
    * measure the passes earlier in their warm-up than a fast one. */
  val SettlePasses = 2

  /** Share of the stream's files that only let the JIT settle. */
  val Settle = 0.5

  def log(msg: String): Unit = { println(s"[perfbench] $msg"); System.out.flush() }

  /** Set-up: a session built in a fresh JVM and made ready for its
    * first pass. The inputs are generated with the session, outside the
    * measured part. Returns the set-up's CPU seconds and what `ready`
    * made; the wall time is logged. */
  def setup[R](env: RunEnv, ready: SparkSession => R)(generate: SparkSession => Unit): (Double, R) = {
    val t0 = System.nanoTime()
    val c0 = Cpu.mark()
    val s = env.session()
    val built = System.nanoTime() - t0
    val builtCpu = c0.since()
    generate(s)
    val t1 = System.nanoTime()
    val c1 = Cpu.mark()
    val r = ready(s)
    val secs = (built + System.nanoTime() - t1) / 1e9
    val cpu = builtCpu + c1.since()
    log(f"setup $cpu%.3f s CPU, $secs%.3f s wall (session $builtCpu%.3f s CPU)")
    (cpu, r)
  }

  /** Driver heap in use after full GCs. Spark frees status entries,
    * broadcasts and shuffles from its own threads, which lag on a busy
    * machine; so the listener bus is drained first and the lowest of
    * several readings is kept. */
  def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val rt = Runtime.getRuntime
    (1 to 6).map { _ =>
      System.gc(); Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  def runBatch(env: RunEnv, wl: BatchWorkload, seed: Long, seconds: Double,
      traced: Boolean, corrupt: Boolean): Outcome = {
    val m = new Metrics
    val (setupCpu, spark0) = setup(env, s => { wl.prepare(s); s })(wl.generate(_, seed, env.dir("inputs")))
    var spark = spark0

    val tracer = new Tracer
    var attempted, failed = 0
    val problems = scala.collection.mutable.LinkedHashSet.empty[String]
    /** One checked pass: its wall and CPU seconds (until it failed, if
      * it did), its output if it was correct, and the Spark totals of
      * `counters` over the same interval, so the checker's own work is
      * left out. */
    def pass(counters: Option[SparkCounters] = None): (Double, Double, Option[wl.Out], Option[SparkTotals]) = {
      attempted += 1
      tracer.pass = attempted
      counters.foreach(_.take())
      val p0 = System.nanoTime()
      val c0 = Cpu.mark()
      def took = ((System.nanoTime() - p0) / 1e9, c0.since())
      try {
        val out = wl.run(spark, tracer)
        val (s, cpu) = took
        val totals = counters.map(_.take())
        val bad = wl.check(spark, out, corrupt)
        log(f"pass $attempted: $cpu%.3f s CPU, $s%.3f s wall${if (bad.isEmpty) "" else " FAILED " + bad.mkString("; ")}")
        if (bad.isEmpty) (s, cpu, Some(out), totals) else { failed += 1; problems ++= bad; (s, cpu, None, totals) }
      } catch {
        case e: Exception =>
          failed += 1; problems += e.toString
          log(s"pass $attempted: FAILED $e")
          val (s, cpu) = took
          (s, cpu, None, None)
      }
    }

    val first = pass()
    var lastOut: Option[wl.Out] = first._3
    // Warm passes fill a window of `seconds` that opens after the cold
    // pass, which alone can take most of it. The first `SettlePasses`
    // let the JIT settle; the rest are measured, at least three. A
    // traced run alternates untraced and traced measured passes, so
    // both see the same warm state. A pass starts only if one as long
    // as the last still ends inside the window.
    val untraced, untracedCpu, tracedTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val totals = scala.collection.mutable.ArrayBuffer.empty[SparkTotals]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var last = first._1
    var warm = 0
    def more = untraced.length < 3 || (traced && tracedTimes.length < 2) ||
      (elapsed + last <= seconds && elapsed < 120)
    while (more) {
      val measuring = warm >= SettlePasses
      warm += 1
      val tracing = traced && measuring && untraced.length > tracedTimes.length
      val counters = if (tracing) Some(new SparkCounters(spark)) else None
      counters.foreach(c => tracer.jobs = () => c.jobsSoFar())
      tracer.enabled = tracing
      val (s, cpu, o, t) = pass(counters)
      tracer.enabled = false
      counters.foreach(_.close())
      t.foreach { x => tracedTimes += s; totals += x }
      if (measuring && !tracing) { untraced += s; untracedCpu += cpu }
      last = s
      o.foreach(x => lastOut = Some(x))
    }
    m("setup_s") = "s" -> setupCpu
    m("first_pass_cpu_s") = "s" -> first._2
    m("pass_cpu_s_p50") = "s" -> Stats.median(untracedCpu.toSeq)
    m("passes_measured") = "count" -> untraced.length.toDouble
    m("first_pass_s") = "s" -> first._1
    m("pass_s_p50") = "s" -> Stats.median(untraced.toSeq)
    if (!traced) {
      lastOut = None
      m("retained_heap_mb") = "MB" -> retainedHeapMb(spark)
    } else {
      def med(f: (Double, SparkTotals) => Double) =
        Stats.median(tracedTimes.zip(totals).map(f.tupled).toSeq)
      m("trace.overhead_s") = "s" -> (Stats.median(tracedTimes.toSeq) - Stats.median(untraced.toSeq))
      m("spark.jobs") = "count" -> med((_, t) => t.jobs.toDouble)
      m("trace.span_jobs") = "count" -> tracer.spanJobs
      m("spark.stages") = "count" -> med((_, t) => t.stages.toDouble)
      m("spark.tasks") = "count" -> med((_, t) => t.tasks.toDouble)
      m("spark.driver_plan_ms") = "ms" -> med((_, t) => t.planMs.toDouble)
      m("spark.scheduler_gap_s") = "s" -> med((s, t) => s - t.jobUnionMs / 1000.0)
      m("spark.task_busy_s") = "s" -> med((_, t) => t.taskBusyMs / 1000.0)
      m("spark.task_cpu_s") = "s" -> med((_, t) => t.taskCpuNs / 1e9)
      m("spark.core_util") = "ratio" -> med((s, t) => t.taskBusyMs / 1000.0 / (s * env.cpus))
      m("spark.shuffle_write_bytes") = "B" -> med((_, t) => t.shuffleWrite.toDouble)
      m("spark.shuffle_read_bytes") = "B" -> med((_, t) => t.shuffleRead.toDouble)
      m("spark.spill_bytes") = "B" -> med((_, t) => t.spill.toDouble)
      m("spark.gc_s") = "s" -> med((_, t) => t.gcMs / 1000.0)
      val selfByPass = tracer.selfSeconds.values.toSeq
      selfByPass.flatMap(_.keys).distinct.sorted.foreach { layer =>
        m(s"$layer.self_s") = "s" -> Stats.median(selfByPass.map(_.getOrElse(layer, 0.0)))
      }
      val probe = new SparkCounters(spark)
      lastOut.foreach(o => m ++= wl.layers(spark, tracer, o, probe))
      probe.close()
      tracer.write(env.work.resolve("trace.jsonl"))
      // one pass on a single core, against the warm multi-core median
      spark.stop()
      spark = env.session("local[1]")
      wl.prepare(spark)
      val p0 = System.nanoTime()
      wl.run(spark, new Tracer)
      m("spark.parallel_speedup") = "ratio" ->
        ((System.nanoTime() - p0) / 1e9 / Stats.median(untraced.toSeq))
    }
    spark.stop()
    problems.take(5).foreach(p => log(s"problem: $p"))
    Outcome(attempted, failed, m)
  }

  /** Same seed, same digest; another seed, another digest. */
  def selftestGen(): Boolean = {
    val digests: Seq[(String, Long => String)] = Seq(
      "etl_csv" -> (s => Gen.etl(s, 20000, 2000).digest),
      "corpus" -> (s => Gen.corpus(s, 2000).digest),
      "events" -> (s => Gen.events(s, 10, 500, 1000).digest))
    digests.forall { case (name, d) =>
      val ok = d(7) == d(7) && d(7) != d(8)
      log(s"selftest-gen $name: ${if (ok) "ok" else "FAILED"}")
      ok
    }
  }
}

object Json {
  /** A finite number with the digits it was measured to. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else BigDecimal(v).round(new java.math.MathContext(6)).bigDecimal.stripTrailingZeros.toPlainString
}
