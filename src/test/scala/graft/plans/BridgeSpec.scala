package graft.plans

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Exercises every entry of the private-API bridge
  * ([[org.apache.spark.sql.graftbridge.Bridge]]) so a Spark jar
  * upgrade that moves any of the `private[sql]` surfaces breaks HERE,
  * in `sbt test`, with the version pin visible — not mid-query in
  * production. Companion to the VERSION PIN note on the object.
  */
class BridgeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-bridge")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("the running Spark is the pinned minor line") {
    assert(org.apache.spark.SPARK_VERSION.startsWith(Bridge.TestedSparkVersion + "."),
      s"Spark ${org.apache.spark.SPARK_VERSION} vs pinned ${Bridge.TestedSparkVersion}.x — " +
        "re-verify the bridge surfaces and update the pin")
  }

  test("toExpression / toColumn round-trip a column through Expression") {
    val c = lit(21) * lit(2)
    val e = Bridge.toExpression(c)
    assert(e != null)
    val back = Bridge.toColumn(e)
    assert(Seq(1).toDF("x").select(back.as("y")).collect().head.getInt(0) == 42)
  }

  test("abstractType wraps a DataType as an input-type spec") {
    val at = Bridge.abstractType(org.apache.spark.sql.types.LongType)
    assert(Bridge.accepts(at, org.apache.spark.sql.types.LongType))
  }

  test("analyzed + ofRows round-trip a DataFrame through its logical plan") {
    val df = Seq((1, "a"), (2, "b")).toDF("n", "s").filter($"n" > 1)
    val plan = Bridge.analyzed(df)
    val back = Bridge.ofRows(spark, plan)
    assert(back.collect().map(_.getString(1)).toSeq == Seq("b"))
  }

  test("internalRows builds a DataFrame over Catalyst rows") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(StructField("n", LongType), StructField("s", StringType)))
    val rows = spark.sparkContext.parallelize(Seq(1L, 2L), 2)
      .map(n => InternalRow(n, UTF8String.fromString(s"v$n")))
    val df = Bridge.internalRows(spark, rows, schema)
    assert(df.schema == schema)
    assert(df.filter($"n" > 1).collect().map(_.getString(1)).toSeq == Seq("v2"))
  }

  test("keptRows runs one named execution and keeps the RDD it is given") {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("n", "s").filter($"n" > 1)
    spark.listenerManager.register(listener)
    val kept = try {
      val out = Bridge.keptRows(df, "bridge-kept")(_.coalesce(1))
      Bridge.drainListeners(spark)
      out
    } finally spark.listenerManager.unregister(listener)
    assert(names.toArray.toSeq == Seq("bridge-kept"))
    assert(kept.schema == df.schema)
    assert(kept.rdd.getNumPartitions == 1)
    assert(kept.collect().map(_.getString(1)).toSeq == Seq("b", "c"))
  }

  test("drainListeners returns once a listener has seen the actions before it") {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        Thread.sleep(200) // a slow listener must still be waited for
        seen.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq(1, 2, 3).toDF("x").count()
      Seq(4, 5).toDF("x").collect()
      Bridge.drainListeners(spark)
      assert(seen.get == 2)
    } finally spark.listenerManager.unregister(listener)
  }

  test("observedMetrics reads an Observation without blocking") {
    val obs = new Observation("bridge-obs")
    val df = Seq(1, 2, 3).toDF("x").observe(obs, sum($"x").as("s"))
    assert(Bridge.observedMetrics(obs).isEmpty) // nothing ran yet — non-blocking
    df.count()
    // the metrics event is asynchronous; poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var m = Bridge.observedMetrics(obs)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50); m = Bridge.observedMetrics(obs)
    }
    assert(m.get("s").contains(6L), s"expected observed s=6, got $m")
  }
}
