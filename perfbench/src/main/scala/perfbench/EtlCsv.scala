package perfbench

import graft.etl.{LoadStatistic, Pipeline, RejectionCategory}
import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** gratum's own use: typed row ETL over CSV with rejection accounting.
  * CSV → asInt/asDouble/asDate → filter → join → groupAgg → save → go().
  * The orders arrive as `files` CSV files, each with its header. */
final class EtlCsv(files: Int, rows: Int, products: Int) extends BatchWorkload {
  type Out = LoadStatistic

  private var data: Gen.EtlData = _
  private var orders, dim, out: String = _

  def generate(spark: SparkSession, seed: Long, dir: Path): Unit = {
    data = Gen.etl(seed, rows, products)
    val ordersDir = java.nio.file.Files.createDirectories(dir.resolve("orders"))
    orders = ordersDir.toString
    dim = dir.resolve("products.csv").toString
    out = dir.resolve("out").toString
    val per = (rows + files - 1) / files
    data.orders.grouped(per).zipWithIndex.foreach { case (part, i) =>
      Fs.writeLines(ordersDir.resolve(s"part-$i.csv"), data.orderHeader +: part)
    }
    Fs.writeLines(dir.resolve("products.csv"), data.dimCsv)
    data = data.copy(orders = Array.empty, dimCsv = Array.empty)
  }

  private def pipeline(spark: SparkSession, t: Tracer): Pipeline = {
    val products = t.span("sources", "csv")(Sources.csv(spark, dim))
    val src = t.span("sources", "csv")(Sources.csv(spark, orders))
    t.span("etl", "build") {
      val p = src
        .asInt("qty").asDouble("price").asDate("order_date")
        .filter("positive_qty", col("qty") > 0, RejectionCategory.REJECTION, "quantity is not positive")
        .join(products.removeField("list_price"), Seq("product_id"))
        .groupAgg(Seq("category", "region"))(
          count(lit(1)).as("orders"), sum(col("qty")).as("units"),
          sum(col("qty") * col("price")).as("revenue"))
        .save(out, "parquet")
      p.toDF
      p
    }
  }

  def run(spark: SparkSession, t: Tracer): Out = {
    val p = pipeline(spark, t)
    t.span("etl", "go")(p.go())
  }

  def check(spark: SparkSession, stat: Out, corrupt: Boolean): Seq[String] = {
    val back = spark.read.parquet(out).collect().toSeq
    val got0 = back.map(r => (r.getAs[String]("category"), r.getAs[String]("region")) ->
      (r.getAs[Long]("orders"), r.getAs[Long]("units"), r.getAs[Double]("revenue"))).toMap
    val got = if (!corrupt) got0 else got0.map { case (k, (n, u, v)) => k -> (n + 1, u, v) }
    val IF = RejectionCategory.INVALID_FORMAT
    val want = Seq(
      "loaded" -> (stat.loaded, data.loaded.size.toLong),
      "asInt(qty)" -> (stat.rejections(IF, "asInt(qty)"), data.badQty),
      "asDouble(price)" -> (stat.rejections(IF, "asDouble(price)"), 0L),
      "asDate" -> (stat.rejections(IF, "asDate(order_date, yyyy-MM-dd)"), data.badDate),
      "positive_qty" -> (stat.rejections(RejectionCategory.REJECTION), data.nonPositive),
      "join" -> (stat.rejections(RejectionCategory.IGNORE_ROW), data.orphans))
    val countProblems = want.collect { case (k, (g, w)) if g != w => s"$k: got $g, want $w" }
    val aggProblems =
      if (got.keySet != data.loaded.keySet) Seq(s"groups differ: ${got.size} vs ${data.loaded.size}")
      else data.loaded.toSeq.collect {
        case (k, (n, u, v)) if got(k)._1 != n || got(k)._2 != u ||
            math.abs(got(k)._3 - v) > 1e-9 * math.max(1.0, math.abs(v)) =>
          s"group $k: got ${got(k)}, want ${(n, u, v)}"
      }
    countProblems ++ aggProblems.take(3)
  }

  def layers(spark: SparkSession, t: Tracer, stat: Out, probe: SparkCounters): Seq[(String, (String, Double))] = {
    val buildMs = t.median("etl", "build")(_.seconds * 1000)
    val goS = t.median("etl", "go")(_.seconds)
    val goJobs = t.median("etl", "go")(_.jobs.toDouble)
    val df = Sources.csv(spark, orders).toDF
    val (readS, read) = Probe(probe)(Probe.noop(df))
    val n = df.count()
    val (bytes, files) = Fs.sizeOf(java.nio.file.Paths.get(out))
    def rej(c: RejectionCategory) = stat.rejections(c).toDouble
    Seq(
      "sources.read_s" -> ("s", readS),
      "sources.rows" -> ("count", n.toDouble),
      "sources.input_bytes" -> ("B", read.inputBytes.toDouble),
      "etl.build_ms" -> ("ms", buildMs),
      "etl.go_s" -> ("s", goS),
      "etl.jobs_per_go" -> ("count", goJobs),
      "etl.loaded" -> ("count", stat.loaded.toDouble),
      "etl.rejected.invalid_format" -> ("count", rej(RejectionCategory.INVALID_FORMAT)),
      "etl.rejected.rejection" -> ("count", rej(RejectionCategory.REJECTION)),
      "etl.rejected.ignore_row" -> ("count", rej(RejectionCategory.IGNORE_ROW)),
      "sinks.write_s" -> ("s", stat.stepTimings.getOrElse(s"save($out)", 0L) / 1000.0),
      "sinks.bytes" -> ("B", bytes.toDouble),
      "sinks.files" -> ("count", files.toDouble))
  }
}
