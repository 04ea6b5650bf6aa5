package graft.sources

import graft.etl.Pipeline
import graft.sinks.XlsxFileSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Xlsx parity specs.
  *
  * The golden test reads the REFERENCE SUITE'S OWN FIXTURE
  * (`src/test/resources/players.xlsx`) and asserts the counts its
  * XlsxSourceTest asserts: 7 rows x 6 columns, sequential integer IDs,
  * color groups green=2/blue=1/purple=1, parseable yyyy-MM-dd birth
  * dates, and the custom-dateFormat variant (MM/dd/yyyy). Round-trip
  * specs drive the pure-JDK writer + reader against each other.
  */
class XlsxSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-xlsx-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val playersXlsx = "/root/reference/src/test/resources/players.xlsx"
  private def havePlayers = new java.io.File(playersXlsx).exists()

  def tmp: Path = Files.createTempDirectory("graft-xlsx")

  test("players.xlsx golden parity: shape, IDs, groups (reference XlsxSourceTest)") {
    assume(havePlayers)
    val df = Xlsx.read(spark, playersXlsx).toDF
    assert(df.count() == 7)
    assert(df.columns.length == 6)
    assert(df.columns.contains("ID") && df.columns.contains("color")
      && df.columns.contains("birth_date"))
    // sequential integer ids, formatted without decimals
    val ids = df.select("ID").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == (1 to 7).map(_.toString).sorted)
    // color groups from the reference's testXlsxGroupBy
    val colors = df.groupBy("color").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(colors("green") == 2L)
    assert(colors("blue") == 1L)
    assert(colors("purple") == 1L)
    // only the ID=7 row may carry nulls (reference testXlsxLoading)
    val nullRows = df.filter(df.columns.map(col(_).isNull).reduce(_ || _))
      .select("ID").collect().map(_.getString(0)).toSet
    assert(nullRows.subsetOf(Set("7")))
  }

  test("players.xlsx dates: default and custom dateFormat parse end-to-end") {
    assume(havePlayers)
    val iso = Pipeline.of(Xlsx.read(spark, playersXlsx).toDF)
      .asDate("birth_date", "yyyy-MM-dd").go()
    assert(iso.loaded == 7 && iso.rejections == 0)
    val us = Pipeline.of(Xlsx.read(spark, playersXlsx, dateFormat = "MM/dd/yyyy").toDF)
      .asDate("birth_date", "MM/dd/yyyy").go()
    assert(us.loaded == 7 && us.rejections == 0)
    val years = Xlsx.read(spark, playersXlsx).toDF
      .select(year(to_date(col("birth_date"), "yyyy-MM-dd")).as("y"))
      .collect().map(_.getInt(0))
    assert(years.forall(_ > 1900)) // reference testXlsxDates
  }

  private val encryptedXlsx =
    "/root/reference/src/test/resources/encrypted_players.xlsx"
  private def haveEncrypted = new java.io.File(encryptedXlsx).exists()

  test("encrypted_players.xlsx: agile decryption equals the plain fixture " +
    "(reference testDecryptXlsx, password Freedom)") {
    assume(havePlayers && haveEncrypted)
    // the encrypted fixture carries MM/dd/yyyy dates (testDecryptXlsx)
    val enc = Xlsx.read(spark, encryptedXlsx,
      password = "Freedom", dateFormat = "MM/dd/yyyy").toDF
    val plain = Xlsx.read(spark, playersXlsx).toDF
    assert(enc.columns.toSeq == plain.columns.toSeq)
    assert(enc.count() == 7)
    // full content parity modulo the date rendering: normalize both
    // birth_date columns to DateType and compare row sets
    def norm(df: org.apache.spark.sql.DataFrame, fmt: String) =
      df.withColumn("birth_date", to_date(col("birth_date"), fmt))
        .collect().map(_.toSeq).toSet
    assert(norm(enc, "MM/dd/yyyy") == norm(plain, "yyyy-MM-dd"))
    // and the dates really parsed (reference's Verify Dates step)
    val stat = Pipeline.of(enc).asDate("birth_date", "MM/dd/yyyy").go()
    assert(stat.loaded == 7 && stat.rejections == 0)
  }

  test("encrypted_players.xlsx: wrong password fails loudly, no password " +
    "demands one") {
    assume(haveEncrypted)
    val wrong = intercept[Exception] {
      Xlsx.read(spark, encryptedXlsx, password = "freedom").toDF.count()
    }
    assert(wrong.getMessage.contains("wrong password"))
    val none = intercept[Exception] {
      Xlsx.read(spark, encryptedXlsx).toDF.count()
    }
    assert(none.getMessage.contains("encrypted"))
  }

  test("oversized first file fails loudly before its bytes reach the driver") {
    val dir = tmp
    val raf = new java.io.RandomAccessFile(dir.resolve("huge.xlsx").toFile, "rw")
    raf.setLength(300L * 1024 * 1024) // sparse — no real disk use
    raf.close()
    val e = intercept[IllegalArgumentException] {
      Xlsx.read(spark, dir.toString)
    }
    assert(e.getMessage.contains("header probe"))
  }

  test("round-trip: typed frame through XlsxFileSink and back") {
    import spark.implicits._
    val dir = tmp
    val out = dir.resolve("purchases.xlsx").toString
    val df = Seq(
      ("Toaster", 1, 23.99, true, "2021-03-15"),
      ("Wine <&> Glasses", 6, 13.99, false, "2021-10-25"),
      ("Dinner Plate", 6, 36.0, true, "2021-11-03")
    ).toDF("name", "count", "cost", "returnable", "purchasedOn")
      .withColumn("purchasedOn", to_date(col("purchasedOn")))
    val result = new XlsxFileSink(out).write(df)
    assert(result("file") == out)

    val back = Xlsx.read(spark, out).toDF.orderBy("name")
    assert(back.columns.toSeq == df.columns.toSeq)
    val rows = back.collect()
    assert(rows.length == 3)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    val toaster = byName("Toaster")
    assert(toaster.getString(1) == "1")
    assert(toaster.getString(2) == "23.99")
    assert(toaster.getString(3) == "TRUE")
    assert(toaster.getString(4) == "2021-03-15") // date cell round-trips through the serial
    assert(byName("Wine <&> Glasses").getString(3) == "FALSE")
    assert(byName("Dinner Plate").getString(2) == "36") // integral double undecorated
  }

  test("a date or timestamp before 1900 is refused, naming its column and row") {
    // Excel has no serial before 1900-01-01: the sink used to write a
    // negative one, shown as #### and read back as the number -18260
    import spark.implicits._
    val dir = tmp
    val out = dir.resolve("old.xlsx")
    val dates = Seq(("a", "1900-01-01"), ("b", "1850-01-01")).toDF("k", "born")
      .withColumn("born", to_date(col("born")))
    val e = intercept[IllegalArgumentException](
      new XlsxFileSink(out.toString).write(dates.orderBy("k")))
    assert(e.getMessage.contains("column 'born', row 2"), e.getMessage)
    assert(e.getMessage.contains("1850-01-01"), e.getMessage)
    assert(!Files.exists(out), "a refused write must not leave a workbook behind")
    val stamps = Seq(("a", "1899-06-30 12:00:00")).toDF("k", "at")
      .withColumn("at", to_timestamp(col("at")))
    val e2 = intercept[IllegalArgumentException](
      new XlsxFileSink(out.toString).write(stamps))
    assert(e2.getMessage.contains("column 'at', row 1"), e2.getMessage)
    // the first day Excel can store round-trips as a date
    new XlsxFileSink(out.toString).write(dates.filter(col("k") === "a"))
    assert(Xlsx.read(spark, out.toString).toDF.head().getString(1) == "1900-01-01")
  }

  test("nulls, sheet names, and missing sheets") {
    import spark.implicits._
    val dir = tmp
    val out = dir.resolve("sparse.xlsx").toString
    val df = Seq(("a", Some(1)), ("b", None)).toDF("k", "v")
    new XlsxFileSink(out, sheetName = "data").write(df)

    val back = Xlsx.read(spark, out, sheet = "data").toDF
    assert(back.count() == 2)
    assert(back.where(col("v").isNull).select("k").head().getString(0) == "b")

    val e = intercept[Exception] {
      Xlsx.read(spark, out, sheet = "nope").toDF.count()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("control characters and escape-lookalike text round-trip via _xHHHH_") {
    import spark.implicits._
    val dir = tmp
    val out = dir.resolve("ctrl.xlsx").toString
    //  is illegal in XML 1.0; the literal _x0041_ must NOT come
    // back as "A"; _x005F_ must survive armoring
    val weird = "belltab\there_x0041_and_x005F_literal"
    new XlsxFileSink(out).write(Seq((weird, "plain")).toDF("a", "b"))
    val back = Xlsx.read(spark, out).toDF.head()
    assert(back.getString(0) == weird)
    assert(back.getString(1) == "plain")
  }

  test("multi-file directory read aligns columns by header name") {
    import spark.implicits._
    val dir = tmp
    new XlsxFileSink(dir.resolve("a.xlsx").toString)
      .write(Seq(("x", 1)).toDF("k", "v"))
    new XlsxFileSink(dir.resolve("b.xlsx").toString)
      .write(Seq((2, "y")).toDF("v", "k")) // same columns, different order
    val back = Xlsx.read(spark, dir.toString).toDF
    assert(back.columns.toSeq == Seq("k", "v"))
    val m = back.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("x" -> "1", "y" -> "2"))
  }
}
