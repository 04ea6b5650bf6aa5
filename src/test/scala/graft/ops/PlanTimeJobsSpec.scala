package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Building a DataFrame must not run Spark jobs: on a cluster a job at
  * plan-build time executes upstream stages outside the action that
  * owns them. A listener counts the jobs each build starts. */
class PlanTimeJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-time-jobs")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs started while `body` runs. The listener bus is asynchronous:
    * a sentinel job in its own group is started afterwards, and the
    * count is read once the listener has seen the sentinel (the bus
    * delivers events in order). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("probe", "plan build under audit")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup("sentinel", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("sentinel"), "listener never saw the sentinel job")
      (a, groups.toArray.count(_ == "probe"))
    } finally sc.removeSparkListener(listener)
  }

  /** Shuffled on purpose: under AQE, anything that builds the RDD of a
    * plan with an exchange runs that exchange's map stage. */
  private def docs: DataFrame = spark.range(0, 400, 1, 4)
    .select(col("id"),
      (col("id") % 7 + 1).as("w"),
      concat(lit("doc "), col("id").cast("string")).as("text"),
      array_repeat(col("id").cast("int") % 50, (col("id") % 5 + 1).cast("int")).as("ids"),
      when(col("id") % 3 === 0, lit("en")).otherwise(lit("de")).as("lang"))
    .repartition(3, col("lang"))

  private val callers: Seq[(String, () => DataFrame)] = Seq(
    "globalCumsum" -> (() => Packing.globalCumsum(docs, "id", "w", 50)),
    "assignShards" -> (() => Packing.assignShards(docs, "id", "w", budget = 30, bucketWidth = 50)),
    "buildShards" -> (() => Packing.buildShards(docs, "id", "text", "w", budget = 30, bucketWidth = 50)),
    "buildShardsWithBoundaries" -> (() =>
      Packing.buildShardsWithBoundaries(docs, "id", "text", "w", budget = 30, bucketWidth = 50)),
    "packTokenIds" -> (() => Packing.packTokenIds(docs, "id", "ids", seqLen = 16, bucketWidth = 50)),
    "assignShuffledShards" -> (() => Packing.assignShuffledShards(docs, "id", ":pt", 64)),
    "sampleByTokenBudget" -> (() => Sampling.sampleByTokenBudget(docs, col("id"), "lang", "w",
      Seq("en" -> 100L, "de" -> 200L), ":pt")),
    "interleaveByWeight" -> (() => Sampling.interleaveByWeight(docs, col("id"), "lang",
      Seq("en" -> 2.0, "de" -> 1.0), ":pt")))

  callers.foreach { case (name, build) =>
    test(s"building $name runs no Spark job; its action runs them") {
      val (df, atBuild) = jobsDuring(build())
      assert(atBuild == 0, s"$name ran $atBuild job(s) while the plan was built")
      val (rows, atAction) = jobsDuring(df.collect())
      assert(rows.nonEmpty)
      assert(atAction > 0)
    }
  }

  // the temperature samplers need their stratum totals before they can
  // write the cut, so building them runs the counts: one job over an
  // exchange-free input
  Seq[(String, DataFrame => DataFrame)](
    "sampleByTemperature" -> (d => Sampling.sampleByTemperature(d, col("id"), "lang",
      targetDocs = 100, alpha = 0.5, salt = ":pt")),
    "sampleByTokenTemperature" -> (d => Sampling.sampleByTokenTemperature(d, col("id"), "lang",
      "w", targetTokens = 400, alpha = 0.5, salt = ":pt"))).foreach { case (name, build) =>
    test(s"building $name runs ONE Spark job: its strata totals") {
      val narrow = spark.range(0, 400, 1, 4).select(col("id"), (col("id") % 7 + 1).as("w"),
        when(col("id") % 3 === 0, lit("en")).otherwise(lit("de")).as("lang"))
      val (df, atBuild) = jobsDuring(build(narrow))
      assert(atBuild == 1, s"$name ran $atBuild job(s) while the plan was built")
      assert(df.collect().map(_.getString(2)).toSet == Set("en", "de"))
    }
  }

  test("Par.spreadNarrow over a shuffled input runs no Spark job") {
    val shuffled = spark.range(0, 100, 1, 4).toDF("id").repartition(2, col("id"))
    val (df, jobs) = jobsDuring(Par.spreadNarrow(shuffled, col("id")))
    assert(jobs == 0, s"spreadNarrow ran $jobs job(s) to plan its input")
    assert(df eq shuffled, "an exchange-bearing input has no static count, so it is not spread")
    // a narrow single-partition input still reads its planned count and spreads
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    val (spread, narrowJobs) = jobsDuring(Par.spreadNarrow(narrow, col("id")))
    assert(narrowJobs == 0)
    assert(spread ne narrow)
    assert(spread.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
