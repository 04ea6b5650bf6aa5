package graft

/** Benchmark main: runs every SparkEntry query at the scale factor in
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Methodology: three INTERLEAVED sweeps over the whole query set. Sweep
  * 1 (cold) is dominated by one-time whole-stage-codegen compilation of
  * each query's plan shapes; the reported steady-state number is the
  * MINIMUM of each query's sweep-2 and sweep-3 runs. Interleaving is the
  * r8 lesson: back-to-back repeats of ONE query all land inside the same
  * contention window, so min-of-2 defended against a contended RUN but
  * not a contended MINUTE (BENCH_r08 showed 4-13x "regressions" that
  * re-measured at 1-2x on a quiet machine). With full sweeps between a
  * query's repeats (~30s apart at sf0.1), a contention burst must span
  * the whole bench to poison both samples; min over the two sweeps then
  * converges to the true cost from above — it can only over-report
  * contention, never under-report work.
  *
  * Output: ONE JSON line on stdout, at most [[MaxLineBytes]] bytes so a
  * tail capture of the last 2,000 characters always holds all of it
  * (see [[finalLine]]): the steady value of every query as a 2-decimal
  * array in sorted-name order, a hash of that name list, the totals,
  * the CPU anchor and the machine load. Per-query cold times go to
  * stderr only. The same record plus the name list and the failed
  * names is written to BENCH_LOCAL_c<cpus>.json in the working
  * directory, so runs at different core counts keep separate files.
  */
object Bench {

  /** 1-minute load average, read before Spark spins up (so it reflects
    * EXTERNAL machine load) and again at the end. BENCH_r11/r12 both
    * shipped closing numbers from a ~3.7×-contended machine that a
    * quiet re-run did in ~70% (steady) / ~27% (cold) of the time — the
    * artifact now self-describes the load it was captured under. */
  private def loadAvg1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Path.of("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Fixed single-thread CPU anchor: 2e8 xorshift steps, min of two
    * JIT-warmed runs. Round 14 measured a UNIFORM ~1.37× slowdown vs
    * BENCH_r13 across untouched pure-JDK queries — machine-speed
    * drift, but only provable by per-query forensics; this anchor
    * makes the next such comparison one division (same code, same
    * anchor → anchor ratio ≈ machine ratio). */
  private[graft] def cpuAnchorMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e6
    }
    once(); math.min(once(), once())
  }

  /** Upper bound on the final stdout line, in UTF-8 bytes. */
  private[graft] val MaxLineBytes = 1900

  // Locale.ROOT: a comma decimal separator would corrupt the JSON
  private def fmt(digits: Int, v: Double): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
  private def r3(v: Double): String = fmt(3, v)

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** First 16 hex digits of the SHA-256 of the names, newline-joined:
    * tells a reader whether two runs' `steady` arrays line up. */
  private[graft] def namesHash(names: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(names.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** The final stdout line: `value` (the steady total), `n`, the
    * `scalars` as given (already JSON-encoded values), `names_sha256`
    * ([[namesHash]] of `names`) and `steady`, the per-query steady
    * seconds to 2 decimals in the order of `names` (sorted by the
    * caller). `BenchLineSpec` holds the real query set under
    * [[MaxLineBytes]]. */
  private[graft] def finalLine(
      names: Seq[String], steady: Seq[Double], scalars: Seq[(String, String)]): String = {
    require(names.length == steady.length, "one steady value per name")
    val fields = Seq("metric" -> "\"total\"", "value" -> r3(steady.sum),
      "unit" -> "\"sec\"", "n" -> names.length.toString) ++ scalars ++ Seq(
      "names_sha256" -> jsonString(namesHash(names)),
      "steady" -> steady.map(fmt(2, _)).mkString("[", ",", "]"))
    fields.map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val loadBefore = loadAvg1()
    val anchorMs = cpuAnchorMs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    // warm the session (executor threads, parquet footer reads, codegen
    // of a trivial plan) so the first timed query isn't charged startup
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    val names = SparkEntry.queries.keys.toSeq.sorted
    def once(name: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = try { SparkEntry.queries(name)(spark, sfDir).count() }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1L }
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def sweep(label: String): Map[String, (Double, Long)] = {
      val m = names.map(n => n -> once(n)).toMap
      System.err.println(f"[bench] sweep $label done: total=${m.valuesIterator.map(_._1).sum}%.1fs")
      m
    }
    val cold = sweep("1/cold")
    val s1 = sweep("2/steady")
    val s2 = sweep("3/steady")

    // contention defense (r12 lesson: the recorded artifact carried
    // 435s-cold numbers a quiet machine does in 117s): when the cold
    // sweep lands far above the steady sweeps — the signature of a
    // contended capture window, not of codegen (quiet cold/steady is
    // ~1.4×) — or the machine was visibly loaded before Spark started,
    // run ONE more steady sweep so at least one sample has a chance to
    // land outside the burst. Min-of-sweeps then discards the poisoned
    // ones. Thresholds (tightened per the r18 verdict: a 5.68-load,
    // 1.68-cold/steady driver record measured 14% above the
    // idle-machine close of the SAME SHA yet reported
    // contended_suspect=false): the extra-sweep TRIGGER fires at
    // cold/steady > 1.5 or 1-min load > cpus/8 at start — a false
    // trigger costs one extra sweep, cheap insurance. The RECORDED
    // flag is computed separately below from the FINAL (min-of-all-
    // sweeps) ratio at > 1.6 plus the load condition: a measured-idle
    // run whose 2-sweep ratio grazes 1.5 (observed 1.49 final at load
    // 0.93) must not ship labeled contended, while r18's miss (1.68
    // at load 5.68) flags on both conditions.
    // SUCCESSFUL runs only: a fast-throwing failed query contributes a
    // near-zero steady time that would inflate the cold/steady ratio and
    // trigger (or mask) the extra sweep on failure noise, not load
    val okNames = names.filter(n =>
      cold(n)._2 >= 0 && (s1(n)._2 >= 0 || s2(n)._2 >= 0))
    val coldTotal0 = okNames.map(cold(_)._1).sum
    val steadyTotal0 = okNames.map { n =>
      val ok = Seq(s1(n), s2(n)).filter(_._2 >= 0)
      ok.map(_._1).min
    }.sum
    val contendedSuspect =
      coldTotal0 / math.max(steadyTotal0, 1e-3) > 1.5 ||
        loadBefore > cpus.toDouble / 8
    val s3 = if (contendedSuspect) {
      System.err.println(
        f"[bench] CONTENTION SUSPECT (cold/steady=${coldTotal0 / math.max(steadyTotal0, 1e-3)}%.2f, " +
          f"load_before=$loadBefore%.1f) — running one extra steady sweep")
      Some(sweep("4/extra"))
    } else None

    val results = names.map { name =>
      val runs = Seq(s1(name), s2(name)) ++ s3.map(_(name))
      // min over SUCCESSFUL runs only: a fast-throwing failed run must
      // not under-report the steady cost it never paid
      val ok = runs.filter(_._2 >= 0)
      val steady = if (ok.nonEmpty) ok.map(_._1).min else runs.map(_._1).max
      val counts = (Seq(cold(name)) ++ runs).map(_._2)
      System.err.println(
        f"[bench] $name%-24s cold=${cold(name)._1}%7.2fs steady=$steady%7.2fs " +
          f"(sweeps ${s1(name)._1}%.2f/${s2(name)._1}%.2f) rows=${counts.last}")
      if (counts.distinct.size != 1) // a run failed or row counts diverged: flag, keep the bench alive
        System.err.println(s"[bench] WARNING $name row counts differ across runs: ${counts.mkString("/")}")
      (name, cold(name)._1, steady, counts.exists(_ < 0) || counts.distinct.size != 1)
    }
    val loadAfter = loadAvg1()
    val total = results.map(_._3).sum
    val totalCold = results.map(_._2).sum
    val failed = results.filter(_._4).map(_._1)
    // the RECORDED flag (see the trigger comment above): final ratio
    // after the extra sweep had its chance to repair the steady floor
    val contendedFinal =
      totalCold / math.max(total, 1e-3) > 1.6 ||
        loadBefore > cpus.toDouble / 8
    val line = finalLine(names, results.map(_._3), Seq(
      "total_cold" -> r3(totalCold),
      "failed" -> failed.length.toString,
      "cpus" -> cpus,
      "load_avg_before" -> r3(loadBefore),
      "load_avg_after" -> r3(loadAfter),
      "cpu_anchor_ms" -> r3(anchorMs),
      "cold_steady_ratio" -> r3(totalCold / math.max(total, 1e-3)),
      "contended_suspect" -> contendedFinal.toString,
      "extra_sweeps" -> s3.size.toString,
      "sf" -> jsonString(sfDir)))
    val record = line.dropRight(1) +
      s""","names":${names.map(jsonString).mkString("[", ",", "]")}""" +
      s""","failed_names":${failed.map(jsonString).mkString("[", ",", "]")}}"""
    val localFile = s"BENCH_LOCAL_c$cpus.json"
    try java.nio.file.Files.writeString(java.nio.file.Path.of(localFile), record + "\n")
    catch { case e: Exception => System.err.println(s"[bench] $localFile write failed: $e") }
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    if (bytes > MaxLineBytes)
      System.err.println(s"[bench] WARNING the final line is $bytes bytes > $MaxLineBytes")
    println(line)
    spark.stop()
  }
}
