package graft

import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Streaming-gate floor profiler (optimization guide §1, VERDICT r21
  * item 9): runs the named q_stream_* gates with a
  * StreamingQueryListener and prints every micro-batch's durationMs
  * breakdown (triggerExecution, queryPlanning, walCommit, addBatch,
  * getBatch, latestOffset, commitOffsets) plus the state operators'
  * commit times — the numbers that decide whether the stream gates'
  * bench seconds are harvestable work or micro-batch machinery.
  *
  * Usage: runMain graft.StreamProfile [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  * Not part of the driver contract; purely a measurement tool.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.filter(_.startsWith("q_stream")).sorted

    val progress = mutable.Buffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      // warm run first (codegen + JIT), then the measured run — the
      // Bench steady-state discipline
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[sprof] $name warm FAILED: $e") }
      progress.synchronized(progress.clear())
      val t0 = System.nanoTime()
      val n = try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[sprof] $name FAILED: $e"); -1L }
      val wallMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300) // listener bus is async
      val ps = progress.synchronized(progress.toSeq)
      println(f"%n== $name rows=$n wall=${wallMs}%.0fms micro-batches=${ps.size} ==")
      var sums = Map.empty[String, Long].withDefaultValue(0L)
      ps.zipWithIndex.foreach { case (p, i) =>
        val d = p.durationMs
        import scala.jdk.CollectionConverters._
        val m = d.asScala.map { case (k, v) => k -> v.toLong }.toMap
        m.foreach { case (k, v) => sums += k -> (sums(k) + v) }
        val states = p.stateOperators.map(so =>
          s"${so.operatorName}:commit=${so.commitTimeMs}ms rows=${so.numRowsTotal}").mkString(" ")
        println(s"  batch$i rows=${p.numInputRows} " +
          m.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" ") +
          (if (states.nonEmpty) s" | $states" else ""))
      }
      val trig = sums("triggerExecution")
      println(f"  TOTAL triggerExecution=${trig}ms of wall=${wallMs}%.0fms " +
        f"(outside-trigger=${wallMs - trig}%.0fms: stream start/stop, batch-side prep, sink collect)")
      println("  sums: " + sums.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
