package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Operator-parity specs in the reference's count-assertion style
  * (gratum `src/test/groovy/gratum/etl/PipelineTest.groovy`): exact
  * loaded/rejected-by-category counts on small in-code fixtures shaped
  * like the reference's people/hobbies fixtures
  * (`src/test/groovy/gratum/etl/GratumFixture.groovy:7-37`).
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  def people: DataFrame = Seq(
    (1, "Bob", "46", "male", "a multi\nline comment"),
    (2, "Randy", "52", "male", ""),
    (3, "Penny", "73", "female", "comment, with comma"),
    (4, "Winnie", "40", "female", null),
    (5, "Carol", "fifty", "female", "unparseable age")
  ).toDF("id", "name", "age", "gender", "comment")

  def hobbies: DataFrame = Seq(
    (1, "Stamps"), (1, "Birding"),
    (2, "Fencing"), (2, "Chess"),
    (3, "Poetry"), (3, "Gardening"),
    (4, "Cooking"), (4, "Painting")
  ).toDF("id", "hobby")

  test("filter(Column) splits loaded vs IGNORE_ROW rejections") {
    val stat = Pipeline.of("people", people).filter(col("gender") === "male").go()
    assert(stat.loaded == 2)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW) == 3)
    assert(stat.rejections == 3)
  }

  test("filter(Map): literal, IN-list, regex-find, column predicate") {
    assert(Pipeline.of(people).filter(Map("gender" -> "female")).go().loaded == 3)
    assert(Pipeline.of(people).filter(Map("gender" -> Seq("male", "female"))).go().loaded == 5)
    assert(Pipeline.of(people).filter(Map("name" -> "nn".r)).go().loaded == 2) // Penny, Winnie
    assert(Pipeline.of(people).filter(Map("id" -> (col("id") > 3))).go().loaded == 2)
    // "*" whole-row OR logic
    assert(Pipeline.of(people)
      .filter(Map("*" -> (col("id") === 1 || col("name") === "Carol"))).go().loaded == 2)
  }

  test("addField / setField / removeField / renameFields / clip") {
    val df = Pipeline.of(people)
      .addField("age2", col("id") * 2)
      .setField("source", "test")
      .removeField("comment")
      .renameFields("gender" -> "sex")
      .clip("id", "sex", "age2", "source")
      .toDF
    assert(df.columns.toSeq == Seq("id", "sex", "age2", "source"))
    assert(df.where(col("source") === "test").count() == 5)
  }

  test("prependStep runs before existing steps; removeFieldWhen nulls per-row") {
    val p = Pipeline.of(people)
      .filter(col("flag") === true) // references a column only prepend provides
      .prependStep("add-flag")(_.withColumn("flag", col("id") <= 3))
    assert(p.go().loaded == 3)

    val df = Pipeline.of(people)
      .removeFieldWhen("comment", col("gender") === "male")
      .toDF
    assert(df.where(col("comment").isNull).count() == 3) // 2 males + Winnie's null
  }

  test("trimAll trims and stringifies every column") {
    val df = Pipeline.of(Seq((1, "  a  "), (2, " b")).toDF("id", "s")).trimAll().toDF
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.where(col("s") === "a").count() == 1)
  }

  test("defaultValues / defaultsBy fill null and empty strings") {
    val stat = Pipeline.of(people)
      .defaultValues("comment" -> "n/a")
      .toDF
    assert(stat.where(col("comment") === "n/a").count() == 2) // Randy(""), Winnie(null)
    val by = Pipeline.of(people).defaultsBy("comment" -> "name").toDF
    assert(by.where(col("comment") === "Randy").count() == 1)
  }

  test("defaultValues: Groovy truthiness — 0, false, empty array are falsy") {
    val df = Seq(
      (1, 0, false, Seq.empty[String]),
      (2, 7, true, Seq("x"))
    ).toDF("id", "n", "b", "xs")
    val out = Pipeline.of(df)
      .defaultValues("n" -> 42, "b" -> true, "xs" -> Array("d"))
      .toDF.orderBy("id").collect()
    assert(out(0).getInt(1) == 42)              // 0 is falsy
    assert(out(0).getBoolean(2))                // false is falsy
    assert(out(0).getSeq[String](3) == Seq("d")) // empty array is falsy
    assert(out(1).getInt(1) == 7)               // truthy values untouched
    assert(out(1).getBoolean(2))
    assert(out(1).getSeq[String](3) == Seq("x"))
  }

  test("asInt rejects unparseable, passes null/empty as null") {
    val stat = Pipeline.of(people).asInt("age").go()
    assert(stat.loaded == 4) // Carol's "fifty" rejected
    assert(stat.rejections(RejectionCategory.INVALID_FORMAT) == 1)
    val df = Pipeline.of(people).filter(col("name") =!= "Carol").asInt("age").toDF
    assert(df.schema("age").dataType == IntegerType)
    assert(df.agg(sum(col("age"))).head().getLong(0) == 211)
  }

  test("asDouble / asBoolean / asDate") {
    val d = Seq(("1", "1.5", "Y", "2020-01-02"), ("2", "bad", "N", "2020-06-07"))
      .toDF("id", "v", "b", "dt")
    val stat = Pipeline.of(d).asDouble("v").go()
    assert(stat.loaded == 1 && stat.rejections(RejectionCategory.INVALID_FORMAT) == 1)

    val bdf = Pipeline.of(d).asBoolean("b").toDF
    assert(bdf.schema("b").dataType == BooleanType)
    assert(bdf.where(col("b")).count() == 1)

    val ddf = Pipeline.of(d).asDate("dt").toDF
    assert(ddf.schema("dt").dataType == TimestampNTZType)
    assert(ddf.where(col("dt").isNotNull).count() == 2)

    val bad = Pipeline.of(Seq(("x", "07/04/2020")).toDF("id", "dt")).asDate("dt").go()
    assert(bad.loaded == 0 && bad.rejections(RejectionCategory.INVALID_FORMAT) == 1)
    val multi = Pipeline.of(Seq(("x", "07/04/2020")).toDF("id", "dt"))
      .asDate("dt", "yyyy-MM-dd", "MM/dd/yyyy").go()
    assert(multi.loaded == 1)
  }

  test("asDateLenient: SimpleDateFormat parity — rolls, trailing garbage, fallback, reject") {
    // the verdicts are asserted against java.text.SimpleDateFormat
    // ITSELF (UTC, the expression's pin) — reference parity by
    // construction, not by hand-computed expectations
    val cases = Seq(
      "2023-02-30",    // rolls to March 2
      "2023-13-01",    // rolls to January 2024
      "2020-15-40",    // both fields roll
      "2023-01-05xyz", // trailing garbage accepted
      "2023-06-07")    // plain
    val sdf = new java.text.SimpleDateFormat("yyyy-MM-dd", java.util.Locale.ROOT)
    sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val df = cases.zipWithIndex.map { case (s, i) => (i.toString, s) }.toDF("id", "dt")
    val out = Pipeline.of(df).asDateLenient("dt").toDF
    assert(out.schema("dt").dataType == TimestampNTZType)
    val got = out.collect().map(r =>
      r.getString(0) -> r.getAs[java.time.LocalDateTime]("dt")).toMap
    cases.zipWithIndex.foreach { case (s, i) =>
      val expect = java.time.LocalDateTime.ofEpochSecond(
        sdf.parse(s).getTime / 1000, 0, java.time.ZoneOffset.UTC)
      assert(got(i.toString) == expect, s"'$s': ${got(i.toString)} != $expect")
    }
    assert(got("0").toLocalDate == java.time.LocalDate.of(2023, 3, 2))
    assert(got("1").toLocalDate == java.time.LocalDate.of(2024, 1, 1))
    // multi-format fallback order + reject + null/empty passthrough
    val multi = Pipeline.of(Seq(("x", "07/04/2020")).toDF("id", "dt"))
      .asDateLenient("dt", "yyyy-MM-dd", "MM/dd/yyyy").go()
    assert(multi.loaded == 1)
    val bad = Pipeline.of(Seq(("x", "not-a-date")).toDF("id", "dt"))
      .asDateLenient("dt").go()
    assert(bad.loaded == 0 && bad.rejections(RejectionCategory.INVALID_FORMAT) == 1)
    val nulls = Pipeline.of(Seq(("a", null.asInstanceOf[String]), ("b", ""))
      .toDF("id", "dt")).asDateLenient("dt").toDF
    assert(nulls.where(col("dt").isNull).count() == 2)
  }

  /** A seeded frame of the values typed converters disagree on: blanks,
    * padded and exponent numbers, int overflow, NaN/Infinity, decimal
    * commas, impossible and unpadded dates, trailing spaces, dates only
    * the second format parses, and non-string input columns. */
  private def hostileTypedFrame(): DataFrame = {
    import org.apache.spark.sql.Row
    val r = new scala.util.Random(20261019L)
    val nums = Seq(null, "", "   ", "\t", " 12 ", "12.0", "1e3", "2147483648", "-2147483648",
      "NaN", "Infinity", "-Infinity", "1,5", "42", "-7", "+5", "007", "1.5", "0x1F", "abc")
    val dates = Seq(null, "", "  ", "2023-01-15", "2023-02-30", "2023-2-3", "2023-01-15 ",
      " 2023-01-15", "01/15/2023", "2/3/2023", "2023-13-01", "2023-01-05xyz", "2020-02-29",
      "2021-02-29", "1899-12-31", "01/15/2023 ", "garbage")
    val doubles = Seq[java.lang.Double](null, Double.NaN, Double.PositiveInfinity, 1.5, 3.0,
      -0.0, 1e10, 2147483647.0)
    val ints = Seq[Integer](null, 0, -1, Int.MaxValue, Int.MinValue, 17)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.length))
    def day(): java.time.LocalDate =
      java.time.LocalDate.of(1990 + r.nextInt(40), 1 + r.nextInt(12), 1 + r.nextInt(28))
    val rows = (0 until 400).map { i =>
      Row(i.toLong,
        if (r.nextInt(4) == 0) (r.nextInt(2000) - 1000).toString else pick(nums),
        if (r.nextInt(4) == 0) (r.nextInt(100000) / 1000.0).toString else pick(nums),
        if (r.nextInt(4) == 0) day().toString else pick(dates),
        if (r.nextInt(4) == 0) day().toString else pick(dates),
        pick(doubles), pick(ints),
        if (r.nextInt(5) == 0) null else day())
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("i", StringType),
      StructField("d", StringType), StructField("dt", StringType), StructField("dl", StringType),
      StructField("nd", DoubleType), StructField("ni", IntegerType), StructField("ndate", DateType))))
  }

  test("typed steps are pinned: kept rows, counts and rejections hash to the captured SHA-256") {
    // captured on the two-parse FilterStep bodies before the typed steps
    // moved to one converted column; any change to what a step keeps,
    // converts, counts or reports moves this hash
    import org.apache.spark.sql.Row
    val frame = hostileTypedFrame()
    val fmts = Seq("yyyy-MM-dd", "MM/dd/yyyy")
    val flows: Seq[(String, Pipeline => Pipeline)] = Seq(
      "asInt" -> (_.asInt("i")),
      "asDouble" -> (_.asDouble("d")),
      "asIntOfDecimals" -> (_.asInt("d")),
      "asDoubleOfInts" -> (_.asDouble("i")),
      "asDate" -> (_.asDate("dt", fmts: _*)),
      "asDateLenient" -> (_.asDateLenient("dl", fmts: _*)),
      "nonString" -> (_.asInt("nd").asDouble("ni").asDate("ndate")))
    def show(v: Any): String = v match {
      case null => "<null>"
      case d: java.sql.Date => d.toLocalDate.toString
      case other => other.toString
    }
    def render(r: Row): String = r.toSeq.map(show).mkString("|")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update((s + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val rejectionCols = Seq("rejectionCategory", "rejectionReason", "rejectionStep", "rejectionException")
    flows.foreach { case (name, flow) =>
      var rejected: (StructType, Seq[Row]) = null
      val stat = flow(Pipeline.of(name, frame))
        .onRejection(rej => rejected = (rej.schema, rej.collect().toSeq))
        .go()
      val kept = flow(Pipeline.of(name, frame)).toDF
      val keptRows = kept.collect().toSeq
      assert(stat.loaded == keptRows.size, name)
      assert(stat.rejections == rejected._2.size, name)
      // no helper column leaks into either output
      assert(kept.columns.toSeq == frame.columns.toSeq, name)
      assert(rejected._1.fieldNames.toSeq == frame.columns.toSeq ++ rejectionCols, name)
      put(name); put(kept.schema.json); put(rejected._1.json)
      put(s"loaded=${stat.loaded}")
      stat.rejectionsByCategory.toSeq.sortBy(_._1.name).foreach { case (c, m) =>
        m.toSeq.sorted.foreach { case (step, n) => put(s"${c.name}/$step=$n") }
      }
      keptRows.map(render).sorted.foreach(put)
      rejected._2.map(render).sorted.foreach(put)
    }
    val sha = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(sha == "bd2f4bef1880763b8f05647dd881eb3c4293e3c213d0ec4fa332db91ad85fb84", s"typed-step outputs hash to $sha")
  }

  test("rejections after a typed step keep a converted column as the string it was rejected as") {
    // a's bad value is rejected by asInt(a) while a is a string; the
    // later asInt(b) rejects a row whose a is already an int
    val ints = Pipeline.of(Seq(("x", "1"), ("2", "y"), ("3", "4")).toDF("a", "b"))
      .asInt("a").asInt("b")
    val rej = ints.rejections
    assert(rej.schema("a").dataType == StringType && rej.schema("b").dataType == StringType)
    assert(rej.select("a", "b", "rejectionStep").collect().map(r => (r.get(0), r.get(1), r.get(2)))
      .toSet == Set(("x", "1", "asInt(a)"), ("2", "y", "asInt(b)")))
    // a date converted by asDate (to TIMESTAMP_NTZ), then a filter
    // rejecting on it: the value the filter saw, as a string, next to
    // the unparseable one
    val dated = Pipeline.of(Seq(("2020-01-02", 1), ("nope", 2), ("2021-03-04", 3)).toDF("d", "n"))
      .asDate("d", "yyyy-MM-dd").filter("late", col("d") < lit("2021-01-01 00:00:00").cast(TimestampNTZType))
    val drej = dated.rejections
    assert(drej.schema("d").dataType == StringType && drej.schema("n").dataType == IntegerType)
    assert(drej.select("d", "n", "rejectionCategory").collect().map(r => (r.get(0), r.get(1), r.get(2)))
      .toSet == Set(("nope", 2, "INVALID_FORMAT"), ("2021-03-04 00:00:00", 3, "IGNORE_ROW")))
    // an onRejection handler on such a chain runs instead of failing go()
    var handled = Seq.empty[String]
    val stat = ints.onRejection(r => handled = r.select("a").collect().map(_.getString(0)).toSeq).go()
    assert(stat.loaded == 1 && stat.rejections == 2)
    assert(handled.sorted == Seq("2", "x"))
  }

  test("a typed step converts each non-blank value once under go(), at most twice under toDF") {
    // the converter counts its own calls: 100 null, 100 blank, 700
    // parseable and 100 unparseable values, so 800 non-blank
    val calls = spark.sparkContext.longAccumulator("typed-step-calls")
    val conv = udf((s: String) => {
      calls.add(1)
      scala.util.Try(Integer.valueOf(s.trim)).getOrElse(null): Integer
    })
    val df = spark.range(1000).toDF("id").withColumn("v",
      when(col("id") < 100, lit(null).cast(StringType))
        .when(col("id") < 200, lit("  "))
        .when(col("id") < 900, col("id").cast(StringType))
        .otherwise(concat(lit("x"), col("id").cast(StringType))))
    def typed(p: Pipeline) = p.typedStep("countedInt(v)", "v", IntegerType, lit("bad"), conv(_))
    // a trailing save makes the write go()'s one action and needs the
    // converted column; a bare go() counts, which needs only the verdict
    val dir = java.nio.file.Files.createTempDirectory("graft-typed-once").toString
    Seq[Pipeline => Pipeline](_.save(s"$dir/out", "parquet"), identity).foreach { tail =>
      calls.reset()
      val stat = tail(typed(Pipeline.of(df))).go()
      assert(stat.loaded == 900)
      assert(stat.rejections(RejectionCategory.INVALID_FORMAT, "countedInt(v)") == 100)
      assert(calls.value == 800, s"go(): ${calls.value} converter calls for 800 non-blank values")
    }
    assert(spark.read.parquet(s"$dir/out").where(col("v").isNotNull).count() == 700)
    calls.reset()
    val kept = typed(Pipeline.of(df)).toDF.collect()
    assert(kept.length == 900)
    assert(kept.count(_.isNullAt(1)) == 200)
    assert(kept.filterNot(_.isNullAt(1)).forall(r => r.getInt(1) == r.getLong(0)))
    assert(calls.value <= 1600, s"toDF: ${calls.value} converter calls for 800 non-blank values")
  }

  test("a typed-step pipeline under go() gets segment timings, not the action-duration fallback") {
    // each step's conversion fuses below its own observe, so its cost is
    // charged to the segment before it; the steps still land in distinct
    // segments, and the heavy aggregate makes them differ
    def build() = Pipeline.of(spark.range(200000L).toDF("id")
        .withColumn("n", (col("id") % 1000).cast(StringType))
        .withColumn("dt", date_format(date_add(lit("2020-01-01").cast(DateType),
          (col("id") % 700).cast("int")), "yyyy-MM-dd")))
      .asInt("n")
      .asDate("dt")
      .addField("g", col("n") % 100)
      .groupAgg(Seq("g"))(
        sum(xxhash64(sha2(repeat(col("id").cast("string"), 400), 512))).as("h"),
        count(lit(1)).as("c"))
    build().go() // warm the codegen paths
    val stat = build().go()
    assert(stat.loaded == 100)
    val a = stat.stepTimings("asInt(n)")
    val b = stat.stepTimings("asDate(dt, yyyy-MM-dd)")
    assert(stat.stepTimings("groupBy(g)") == b)
    assert(a != b, s"expected differing segment times, got a=$a b=$b (${stat.stepTimings})")
  }

  test("unique keeps one row per key, rejects dups IGNORE_ROW") {
    val stat = Pipeline.of(hobbies).unique("id", orderBy = "hobby").go()
    assert(stat.loaded == 4)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW) == 4)
    // first-wins by the ordering column
    val kept = Pipeline.of(hobbies).unique("id", orderBy = "hobby").toDF
      .where(col("id") === 1).select("hobby").head().getString(0)
    assert(kept == "Birding")
  }

  test("limitRows halt and no-halt") {
    assert(Pipeline.of(hobbies).limitRows(3).go().loaded == 3)
    val noHalt = Pipeline.of(hobbies)
      .limitRows(3, halt = false, orderBy = Seq("id", "hobby")).go()
    assert(noHalt.loaded == 3)
    assert(noHalt.rejections(RejectionCategory.IGNORE_ROW) == 5)
  }

  test("limitRows(halt=false) without orderBy is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.of(hobbies).limitRows(3, halt = false)
    }
    assert(e.getMessage.contains("orderBy"))
  }

  test("sortBy ascending and mixed order") {
    val first = Pipeline.of(people).sortBy("name").toDF.head().getString(1)
    assert(first == "Bob")
    val desc = Pipeline.of(people).sortBy("gender" -> SortOrder.ASC, "name" -> SortOrder.DESC)
      .toDF.head()
    assert(desc.getString(1) == "Winnie")
  }

  test("inner join rejects unmatched left rows; left join null-pads") {
    val inner = Pipeline.of("people", people).join(Pipeline.of("hobbies", hobbies), Seq("id"))
    val stat = inner.go()
    assert(stat.loaded == 8) // 4 people x 2 hobbies
    assert(stat.rejections(RejectionCategory.IGNORE_ROW) == 1) // Carol id=5

    val left = Pipeline.of(people).join(Pipeline.of(hobbies), Seq("id"), left = true)
    assert(left.go().loaded == 9)
    assert(left.toDF.where(col("hobby").isNull).count() == 1)
  }

  test("join with differing key names and left-wins collision rule") {
    val right = hobbies.withColumnRenamed("id", "person_id")
      .withColumn("name", lit("SHOULD_LOSE"))
    val joined = Pipeline.of(people)
      .join(Pipeline.of(right), Map("id" -> "person_id"), left = false)
      .toDF
    assert(joined.count() == 8)
    // left's name column wins the collision
    assert(joined.where(col("name") === "SHOULD_LOSE").count() == 0)
  }

  test("intersectMarker marks membership without filtering") {
    val df = Pipeline.of(people).intersectMarker(Pipeline.of(hobbies), Seq("id")).toDF
    assert(df.count() == 5)
    assert(df.where(col("included")).count() == 4)
    assert(df.where(!col("included")).count() == 1)
  }

  test("intersectMarker rejects an input that already has an `included` column") {
    val clash = people.withColumn("included", lit("user data"))
    val e = intercept[IllegalArgumentException] {
      Pipeline.of(clash).intersectMarker(Pipeline.of(hobbies), Seq("id")).toDF
    }
    assert(e.getMessage.contains("included"))
  }

  test("concatWith unions by name with null padding") {
    val other = Seq((6, "Zed")).toDF("id", "name")
    val df = Pipeline.of(people).concatWith(Pipeline.of(other)).toDF
    assert(df.count() == 6)
    assert(df.where(col("id") === 6 && col("gender").isNull).count() == 1)
  }

  test("set-op supersets: concatDistinct / exceptRows / intersectRows") {
    val a = Pipeline.of(Seq(1, 2, 2, 3).toDF("k"))
    val b = Pipeline.of(Seq(3, 4).toDF("k"))
    def ks(p: Pipeline): Seq[Int] = p.toDF.collect().map(_.getInt(0)).sorted.toSeq
    assert(ks(a.concatDistinct(b)) == Seq(1, 2, 3, 4))
    assert(ks(a.exceptRows(b)) == Seq(1, 2))
    assert(ks(a.intersectRows(b)) == Seq(3))
  }

  test("branch copies flow into side pipeline; main flow unchanged") {
    var branchLoaded = -1L
    val stat = Pipeline.of(people)
      .branch { side =>
        side.filter(Map("gender" -> "female")).after(s => branchLoaded = s.loaded)
      }
      .filter(Map("gender" -> "male"))
      .go()
    assert(stat.loaded == 2)
    assert(branchLoaded == 3)
  }

  test("explodeField fans out collection values") {
    val df = Seq((1, Seq("a", "b")), (2, Seq("c"))).toDF("id", "xs")
    val out = Pipeline.of(df).explodeField("xs", "x").toDF
    assert(out.count() == 3)
  }

  test("fillDown fills falsy cells from previous row in order") {
    val df = Seq(
      (1, 1, "Alice", "j1"), (2, 1, "", "j2"), (3, 1, null, "j3"),
      (4, 2, "Bob", "j4"), (5, 2, "", "j5")
    ).toDF("seq", "pid", "pname", "job")
    val out = Pipeline.of(df).fillDown(Seq("pid"), "seq", Seq("pname")).toDF
    assert(out.where(col("pname") === "Alice").count() == 3)
    assert(out.where(col("pname") === "Bob").count() == 2)
  }

  test("groupAgg and reduceAgg") {
    val g = Pipeline.of(hobbies).groupAgg(Seq("id"))(count(lit(1)).as("n")).toDF
    assert(g.count() == 4)
    assert(g.where(col("n") === 2).count() == 4)
    val r = Pipeline.of(people).reduceAgg(sum(col("id")).as("total")).toDF
    assert(r.head().getLong(0) == 15)
  }

  test("groupTree reproduces the nested map-of-lists shape") {
    val tree = Pipeline.of(people).groupTree("gender")
    assert(tree.keySet == Set("male", "female"))
    assert(tree("female").asInstanceOf[List[_]].size == 3)
  }

  test("go() on an empty source returns zero counts (sum-over-zero-rows metric is NULL)") {
    val stat = Pipeline.of(people.limit(0)).filter(col("gender") === "male").go()
    assert(stat.loaded == 0)
    assert(stat.rejections == 0)
  }

  test("limitRows(halt=false) counts the FULL overflow, not just pulled rows") {
    // 1000 rows over 4 partitions: an observe below the limit would see
    // at most limit-per-partition rows and undercount the rejections
    val big = spark.range(1000).toDF("id")
    val stat = Pipeline.of(big).limitRows(100, halt = false, orderBy = Seq("id")).go()
    assert(stat.loaded == 100)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW) == 900)
  }

  test("per-step timings segment at observe boundaries") {
    // two rejecting steps create a real observe boundary; the second
    // segment hashes a ~2KB payload per row so both segments do
    // measurable work. The codegen clock smears wall time across spans
    // that pull from each other within one stage (see StepTiming), so
    // the spec asserts the attribution STRUCTURE — steps in different
    // segments get different values, fused steps share one — not a
    // relative ordering of the two segments.
    def build() = Pipeline.of(spark.range(200000L).toDF("id"))
      .filter("filter-a", col("id") % 2 === 0)
      .filter("filter-b", col("id") % 4 === 0)
      .addField("g", col("id") % 100)
      .groupAgg(Seq("g"))(
        sum(xxhash64(sha2(repeat(col("id").cast("string"), 400), 512))).as("h"),
        count(lit(1)).as("n"))
    build().go() // warm the codegen paths: first-compile time smears spans
    val stat = build().go()
    assert(stat.loaded == 25) // multiples of 4 -> 25 residues mod 100
    val a = stat.stepTimings("filter-a")
    val b = stat.stepTimings("filter-b")
    // fused steps above the last observe share the second segment
    assert(stat.stepTimings("addField(g)") == b)
    assert(stat.stepTimings("groupBy(g)") == b)
    // segments were actually attributed from plan metrics: with ~2KB
    // sha2 per row in segment 2 and the scan in segment 1, identical
    // millisecond values would mean the fallback (one action duration
    // for every step) fired
    assert(a != b, s"expected differing segment times, got a=$a b=$b (${stat.stepTimings})")
  }

  test("plan capture survives concurrent counts on the same session") {
    // the timing listener is session-global; a concurrent count() used
    // to be captured in place of the pipeline's own action, which made
    // StepTiming bail to the everything-equals-action-duration fallback.
    // Under sustained count() noise the segmentation must still come
    // from THIS pipeline's executed plan (differing segment times).
    def build() = Pipeline.of(spark.range(200000L).toDF("id"))
      .filter("filter-a", col("id") % 2 === 0)
      .filter("filter-b", col("id") % 4 === 0)
      .addField("g", col("id") % 100)
      .groupAgg(Seq("g"))(
        sum(xxhash64(sha2(repeat(col("id").cast("string"), 400), 512))).as("h"),
        count(lit(1)).as("n"))
    build().go() // warm codegen
    @volatile var stop = false
    val noise = new Thread(() => {
      while (!stop) spark.range(1000L).toDF("x").count()
    })
    noise.setDaemon(true)
    noise.start()
    try {
      val stat = build().go()
      assert(stat.loaded == 25)
      val a = stat.stepTimings("filter-a")
      val b = stat.stepTimings("filter-b")
      assert(a != b,
        s"timing fallback fired under concurrent counts (${stat.stepTimings})")
    } finally { stop = true; noise.join() }
  }

  test("limitRows(halt=false): kept and rejected exactly partition the input") {
    // multi-partition frame whose orderBy key TIES everywhere — the
    // whole-row hash tiebreak must resolve the boundary identically in
    // the kept and rejected executions
    val df = spark.range(400).toDF("id")
      .withColumn("k", lit(1))
      .repartition(8)
    val p = Pipeline.of(df).limitRows(150, halt = false, orderBy = Seq("k"))
    val kept = p.toDF.select("id").collect().map(_.getLong(0)).toSet
    val rejected = p.rejections.select("id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 150)
    assert(rejected.size == 250)
    assert(kept.intersect(rejected).isEmpty)
    assert((kept ++ rejected) == (0L until 400L).toSet)
  }

  test("unique keeps a real row when every orderBy value in a group is null") {
    val df = Seq(
      (1, "a", null.asInstanceOf[Integer]), (2, "a", null.asInstanceOf[Integer]),
      (3, "b", Integer.valueOf(7))
    ).toDF("id", "k", "ord")
    val kept = Pipeline.of(df).unique("k", "ord").toDF
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(kept.map(_._2) == Set("a", "b"))
    assert(kept.forall(_._1 > 0)) // a REAL row per group, not a fabricated null row
    // null KEY rows also group together (null-safe key join in the complement)
    val df2 = Seq((1, null.asInstanceOf[String]), (2, null.asInstanceOf[String]))
      .toDF("id", "k")
    val stat = Pipeline.of(df2).unique("k", "id").go()
    assert(stat.loaded == 1)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW) == 1)
    // the rejection SIDE-CHANNEL must agree with the counts even when
    // the ordering ties (all-null group): n-1 rejected rows delivered
    var rejected = -1L
    Pipeline.of(df).unique("k", "ord").onRejection(r => rejected = r.count()).go()
    assert(rejected == 1) // one of the two tied "a" rows
  }

  test("saveAs writes exactly once even when go() re-folds prefixes for a branch") {
    var writes = 0
    val sink = new graft.sinks.Sink {
      def name = "counting"
      def write(df: DataFrame): Map[String, String] = {
        writes += 1; Map("n" -> df.count().toString)
      }
    }
    Pipeline.of(people)
      .saveAs(sink)
      .branch(p => p.filter(col("n") > "0")) // forces a prefix re-fold
      .go()
    assert(writes == 1, s"sink wrote $writes times")
  }

  test("sortWith: after-callback gets the sorted file; downstream=false ends the flow") {
    var lines: Seq[String] = Nil
    val stat = Pipeline.of(people)
      .sortWith(SortSpec(
        keys = Seq(col("id").desc),
        after = Some(f => { lines = scala.io.Source.fromFile(f).getLines().toSeq; f.delete() }),
        downstream = false))
      .go()
    assert(stat.loaded == 0) // downstream=false: nothing flows past the sort
    assert(lines.size == 6) // header + 5 rows
    assert(lines(1).startsWith("\"5\"")) // sorted desc by id, reference always-quote style
  }

  test("sortWith: downstream=true keeps the sorted flow") {
    val out = Pipeline.of(people)
      .sortWith(SortSpec(keys = Seq(col("id").desc)))
      .toDF.select("id").collect().map(_.getInt(0)).toSeq
    assert(out == Seq(5, 4, 3, 2, 1))
  }

  test("branch with aggregation and custom sink (ref testBranchWithGroupBy/testComplexBranch)") {
    var captured: Map[String, Long] = Map.empty
    val sink = new graft.sinks.Sink {
      def name = "collect"
      def write(df: DataFrame): Map[String, String] = {
        captured = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        Map("rows" -> captured.size.toString)
      }
    }
    val stat = Pipeline.of(people)
      .branch(p => p.groupAgg(Seq("gender"))(count(lit(1)).as("n")).saveAs(sink))
      .go()
    assert(stat.loaded == 5) // main flow unchanged by the branch
    assert(captured == Map("male" -> 2L, "female" -> 3L))
  }

  test("training-data verbs: quality/langid/token columns + exact dedup chain") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The quick  brown fox jumps over the lazy DOG"), // same fingerprint as 1
      (3L, "el gato y la casa que los perros el dia bueno")
    ).toDF("doc_id", "text")
    val out = Pipeline.of(docs)
      .withTokenCount("text")
      .withLangId("text")
      .withQualityFeatures("text")
      .dedupExact("text", "doc_id")
      .toDF
    assert(out.count() == 2) // doc 2 deduped away
    val en = out.where(col("doc_id") === 1).head()
    assert(en.getAs[String]("lang_pred") == "en")
    assert(en.getAs[Int]("n_tokens") == 9)
    assert(out.columns.contains("quality"))
  }

  test("training-data verbs: cluster dedup, decontaminate, split, sample, repetition") {
    val phrase = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"prefix $phrase middle words here to shingle"),
      (2L, s"other start $phrase and a different tail text"), // shares the 8-gram with 1
      (3L, "entirely distinct content that overlaps with nothing else at all"),
      (4L, "buy now buy now buy now buy now buy now")
    ).toDF("doc_id", "text")
    val deduped = Pipeline.of(docs).dedupClusters("doc_id", "text").toDF
    assert(deduped.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))

    val evalSet = Seq((9L, s"held out $phrase exactly")).toDF("doc_id", "text")
    val clean = Pipeline.of(docs).decontaminate(evalSet, "doc_id", "text").toDF
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))

    val labeled = Pipeline.of(docs)
      .withSplit("doc_id", Seq("train" -> 0.5, "test" -> 0.5), ":s")
      .withRepetitionRatio("text")
      .toDF
    assert(labeled.columns.contains("split") && labeled.columns.contains("rep_ratio"))
    assert(labeled.where(col("doc_id") === 4).head().getAs[Double]("rep_ratio") > 0.5)

    val sampled = Pipeline.of(docs).sampleByHash("doc_id", 0.5, ":s").toDF
    assert(sampled.count() <= 4)
  }

  test("exchange: per-row sub-flow injects generated rows downstream") {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("copy", IntegerType)))
    val out = Pipeline.of(people)
      .exchange(schema)(r => {
        val id = r.getAs[Int]("id")
        (0 until id % 3).map(i => Row(id, i)) // sub-flow of id%3 rows per input row
      })
      .toDF.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(out == Set((1, 0), (4, 0), (2, 0), (2, 1), (5, 0), (5, 1))) // ids 1,2,4,5 -> 1%3+2%3+4%3+5%3 rows; 3%3=0
  }

  test("rejections before and after an exchange are both counted (ref testExchangeRejections)") {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("n", IntegerType)))
    val stat = Pipeline.of(people)
      .filter(Map("gender" -> "female")) // rejects the 2 males
      .exchange(schema)(r => {
        val id = r.getAs[Int]("id")
        (1 to id % 4).map(i => Row(id, i)) // 3->3 rows, 4->0 rows, 5->1 row
      })
      .filter(col("n") <= 2) // rejects (3,3)
      .go()
    assert(stat.loaded == 3) // (3,1),(3,2),(5,1)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW) == 3) // 2 males + (3,3)
  }

  test("sessionize assigns run-length window ids") {
    val df = Seq(
      (1, "u1", "view"), (2, "u1", "view"), (3, "u1", "click"),
      (4, "u1", "view"), (5, "u2", "view")
    ).toDF("seq", "user", "etype")
    val out = Pipeline.of(df).sessionize("etype", Seq("user"), "seq").toDF
    val u1 = out.where(col("user") === "u1").orderBy("seq")
      .select("window_id").collect().map(_.getLong(0)).toSeq
    assert(u1 == Seq(1L, 1L, 2L, 3L))
  }

  test("replaceAll and replaceValues") {
    val df = Pipeline.of(people)
      .replaceAll("name", "[aeiou]", "_")
      .replaceValues("gender", Map("male" -> "M", "female" -> "F"))
      .toDF
    assert(df.where(col("name") === "B_b").count() == 1)
    assert(df.where(col("gender").isin("M", "F")).count() == 5)
  }

  test("onRejection sees rejected rows with rejection columns") {
    var cats: Seq[String] = Nil
    Pipeline.of(people)
      .filter(Map("gender" -> "male"))
      .asInt("age")
      .onRejection { rej =>
        cats = rej.select("rejectionCategory").collect().map(_.getString(0)).toSeq
      }
      .go()
    assert(cats.sorted == Seq("IGNORE_ROW", "IGNORE_ROW", "IGNORE_ROW"))
  }

  test("rejections carry step names for per-step attribution") {
    val stat = Pipeline.of(people)
      .filter("only-males", col("gender") === "male")
      .asInt("age")
      .go()
    assert(stat.rejections(RejectionCategory.IGNORE_ROW, "only-males") == 3)
    assert(stat.loaded == 2)
  }

  test("save writes csv and go() still counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-save").toString
    val stat = Pipeline.of(people).save(s"$dir/out", "csv").go()
    assert(stat.loaded == 5)
    val back = spark.read.option("header", "true").option("multiLine", "true").csv(s"$dir/out")
    assert(back.count() == 5)
  }

  test("save(partitionBy) lays out hive-style dirs and read-back filters prune partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-save-part").toString
    val stat = Pipeline.of(people)
      .save(s"$dir/out", "parquet", partitionBy = Seq("gender")).go()
    assert(stat.loaded == 5)
    val dirs = new java.io.File(s"$dir/out").listFiles().map(_.getName).filter(_.contains("="))
    assert(dirs.toSet == Set("gender=male", "gender=female"))
    // a filter on the partition column must land in PartitionFilters
    // (directory skip), not PushedFilters (row-group skip inside files)
    val back = spark.read.parquet(s"$dir/out").filter(col("gender") === "female")
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("female"),
      s"partition filter not pruned:\n$scan")
    assert(back.count() == 3)
  }

  test("go() reads the source exactly once for a 3-rejecting-step pipeline") {
    // touch counter in a head mapRows step: if go() re-scanned the
    // prefix per rejecting step (the round-1 design), this would be ~4n
    val touches = spark.sparkContext.longAccumulator("touches")
    val schema = people.schema
    val stat = Pipeline.of(people)
      .mapRows("touch", schema)(r => { touches.add(1); r })
      .filter("step1", col("id") =!= 1)
      .filter("step2", col("gender") === "female")
      .asInt("age")
      .go()
    assert(stat.loaded == 2) // Penny, Winnie (Carol's age unparseable, id 1 male dropped)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW, "step1") == 1)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW, "step2") == 1)
    assert(stat.rejections(RejectionCategory.INVALID_FORMAT) == 1)
    assert(touches.value == 5, s"source scanned ${touches.value}/5 row-touches — go() must be single-pass")
  }

  test("script errors become SCRIPT_ERROR rejections with rejectionException") {
    val schema = people.schema
    val p = Pipeline.of(people)
      .mapRows("boom", schema)(r =>
        if (r.getInt(0) == 3) throw new IllegalStateException("bad row")
        else if (r.getInt(0) == 4) null // null return = REJECTION
        else r)
    val stat = p.go()
    assert(stat.loaded == 3)
    assert(stat.rejections(RejectionCategory.SCRIPT_ERROR, "boom") == 1)
    assert(stat.rejections(RejectionCategory.REJECTION, "boom") == 1)
    val rej = p.rejections.select("rejectionCategory", "rejectionException").collect()
    val byCat = rej.map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(byCat("SCRIPT_ERROR").exists(_.contains("bad row")))
    assert(byCat("REJECTION").isEmpty)
  }

  test("aborts after >50 script errors with zero loaded rows") {
    val d = spark.range(200).toDF("id")
    val p = Pipeline.of(d).mapRows("always-fails", d.schema)(_ =>
      throw new IllegalStateException("nope"))
    val e = intercept[Exception](p.go())
    def hasAbort(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[PipelineAbortException] || hasAbort(t.getCause))
    assert(hasAbort(e), s"expected PipelineAbortException in cause chain, got $e")
  }

  test("withUrlColumns appends the three canonical URL columns") {
    val out = Pipeline.of("urls",
      Seq((1L, "HTTPS://WWW.Ex.CO.UK:443/P/?utm_source=a&id=1#f"))
        .toDF("id", "url"))
      .withUrlColumns("url")
      .toDF
    val r = out.select("url_norm", "url_domain", "url_registered").head()
    assert(r.getString(0) == "https://www.ex.co.uk/P/?id=1")
    assert(r.getString(1) == "www.ex.co.uk")
    assert(r.getString(2) == "ex.co.uk")
  }

  test("withMediaMeta / withMediaDims attach typed media structs") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13) ++ "IHDR".getBytes ++
      Array[Byte](0, 0, 0, 2, 0, 0, 0, 3, 8, 2, 0, 0, 0)
    val out = Pipeline.of("media", Seq((1L, png)).toDF("id", "payload"))
      .withMediaMeta("payload")
      .withMediaDims("payload")
      .toDF
    val r = out.select(col("media_meta.mime"), col("media_dims.width"),
      col("media_dims.height")).head()
    assert(r.getString(0) == "image/png")
    assert(r.getInt(1) == 2 && r.getInt(2) == 3)
  }

  test("zorderBy / saveAvro / saveBucketed verbs flow through the chain") {
    val pts = (for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)).toDF("x", "y")
    // zorderBy is a pure re-layout: same rows, laid out z-ordered
    val laid = Pipeline.of("pts", pts).zorderBy(4, 4, col("x"), col("y")).toDF
    assert(laid.count() == 256)
    assert(laid.columns.toSeq == Seq("x", "y"))

    val dir = java.nio.file.Files.createTempDirectory("graft-verb-avro").toString
    val stat = Pipeline.of("pts", pts).saveAvro(s"$dir/pts").go()
    assert(stat.loaded == 256)
    assert(graft.sources.Avro.read(spark, s"$dir/pts").count() == 256)

    val tbl = s"graft_verb_bucketed_${ProcessHandle.current().pid()}"
    try {
      Pipeline.of("pts", pts)
        .saveBucketed(tbl, Seq("x"), numBuckets = 4, path = Some(s"$dir/bucketed"))
        .go()
      assert(spark.table(tbl).count() == 256)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("round-13 mixture/tokenizer verbs flow through the chain == direct op calls") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 100)
    val m = graft.ops.Bpe.train(docs, "text", numMerges = 10, minPairCount = 2)
    val bc = graft.ops.Bpe.broadcastModel(spark, m)
    // temperature sampling verb == op
    val viaVerb = Pipeline.of("docs", docs)
      .sampleByTemperature("doc_id", "lang", targetDocs = 50, alpha = 0.5, salt = ":pv")
      .toDF.select("doc_id").collect().map(_.getLong(0)).toSet
    val viaOp = graft.ops.Sampling.sampleByTemperature(
      docs, col("doc_id"), "lang", 50, 0.5, ":pv")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaVerb == viaOp && viaVerb.nonEmpty)
    // BPE count + budget + audit chained
    val audited = Pipeline.of("docs", docs)
      .withBpeTokenCount("text", "n_bpe", bc)
      .sampleByTokenBudget("doc_id", "lang", "n_bpe",
        Seq("en" -> 2000L), ":pv2")
      .mixtureAudit("lang", "n_bpe", Seq("en" -> 2000L))
      .toDF.collect()
    assert(audited.length == 1 && audited.head.getString(0) == "en")
    assert(audited.head.getBoolean(audited.head.fieldIndex("within_one_doc")))
    // real-token chunking verb == op
    val chVerb = Pipeline.of("docs", docs)
      .chunkByTokenCount("doc_id", "text", maxTokens = 30, bc)
      .toDF.count()
    val chOp = graft.ops.Bpe.chunkByTokenCount(docs, "doc_id", "text", 30, bc).count()
    assert(chVerb == chOp && chVerb > 0)
  }

  test("round-15 tensor verbs flow through the chain == direct op calls") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 100)
    val m = graft.ops.Bpe.train(docs, "text", numMerges = 10, minPairCount = 2)
    val bc = graft.ops.Bpe.broadcastModel(spark, m)
    val ids = graft.ops.Bpe.withTokenIds(docs, "text", "ids", bc)
    // EOS-separated packing + labels + shuffle-and-shard, verb chain
    // == the same ops composed directly
    val viaVerb = Pipeline.of("ids", ids)
      .packTokenIds("doc_id", "ids", seqLen = 32, padId = 0, sepId = Some(99))
      .withCausalLabels()
      .assignShuffledShards("seq_id", ":pv15", rowsPerShard = 8)
      .toDF.select("seq_id", "rank", "shard_id", "n_pad")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val viaOp = graft.ops.Packing.assignShuffledShards(
      graft.ops.Packing.withCausalLabels(
        graft.ops.Packing.packTokenIds(ids, "doc_id", "ids", 32, 0,
          sepId = Some(99))),
      "seq_id", ":pv15", rowsPerShard = 8)
      .select("seq_id", "rank", "shard_id", "n_pad")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(viaVerb == viaOp && viaVerb.nonEmpty)
    // whole-doc packing verb == direct op (docs over seqLen filtered
    // upstream — the production pattern the verb expects)
    val fit = ids.filter(size(col("ids")).between(1, 64))
    val wVerb = Pipeline.of("ids", fit)
      .packWholeDocs("doc_id", "ids", seqLen = 64)
      .withCausalLabels()
      .toDF.select("seq_id", "n_docs", "n_pad")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val wOp = graft.ops.Packing.withCausalLabels(
      graft.ops.Packing.packWholeDocs(fit, "doc_id", "ids", 64))
      .select("seq_id", "n_docs", "n_pad")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(wVerb == wOp && wVerb.nonEmpty)
  }

  test("stepTimings covers every step; sinks get their own timing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-timing").toString
    val stat = Pipeline.of(people)
      .filter("f", col("id") > 1)
      .save(s"$dir/out", "csv")
      .go()
    assert(stat.stepTimings.contains("f"))
    assert(stat.stepTimings.contains(s"save($dir/out)"))
  }

  // A trailing save is go()'s one action: no source persist, one pass.
  // `.branch(p => p)` after the save forces the persisted two-pass path
  // for comparison.
  def fusedSource: DataFrame = spark.range(1000).toDF("id")
    .withColumn("qty", when(col("id") % 50 === 0, lit("x")).otherwise(col("id").cast("string")))

  test("a trailing save traverses the source once and counts like the persisted path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fused").toString
    Seq("csv", "parquet").foreach { fmt =>
      val touches = spark.sparkContext.longAccumulator(s"touches-$fmt")
      val schema = fusedSource.schema
      def build(out: String) = Pipeline.of("fused", fusedSource)
        .mapRows("touch", schema)(r => { touches.add(1); r })
        .asInt("qty")
        .filter("even", col("id") % 2 === 0)
        .save(out, fmt)
      val fused = build(s"$dir/$fmt")
      val stat = fused.go()
      assert(touches.value == 1000, s"$fmt: upstream evaluated ${touches.value} times for 1000 rows")
      touches.reset()
      val twoPass = build(s"$dir/$fmt-two-pass").branch(p => p).go()
      // persisted path: the count, the sink's pass and the branch's own go()
      assert(touches.value == 3000, s"$fmt: the persisted path should re-run the steps")
      assert(stat.loaded == 480) // 20 bad qty (all even ids), then 500 odd ids
      assert(stat.rejections(RejectionCategory.INVALID_FORMAT, "asInt(qty)") == 20)
      assert(stat.rejections(RejectionCategory.IGNORE_ROW, "even") == 500)
      assert(stat.loaded == twoPass.loaded)
      assert(stat.rejectionsByCategory == twoPass.rejectionsByCategory)

      val want = fused.toDF.select(col("id").cast("string"), col("qty").cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val back = (if (fmt == "csv") spark.read.option("header", "true").csv(s"$dir/$fmt")
                  else spark.read.parquet(s"$dir/$fmt"))
        .select(col("id").cast("string"), col("qty").cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(back == want, s"$fmt: written rows differ from toDF")
    }
  }

  test("printRow keeps the counting pass: >21 rows report full counts") {
    val stat = Pipeline.of(spark.range(100).toDF("id"))
      .filter("f", col("id") % 4 =!= 0)
      .printRow()
      .go()
    assert(stat.loaded == 75)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW, "f") == 25)
  }

  test("limitRows(halt=false) before a trailing save reports the exact overflow") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fused-limit").toString
    val stat = Pipeline.of(spark.range(1000).toDF("id"))
      .limitRows(100, halt = false, orderBy = Seq("id"))
      .save(s"$dir/out", "parquet")
      .go()
    assert(stat.loaded == 100)
    assert(stat.rejections(RejectionCategory.IGNORE_ROW) == 900)
    assert(spark.read.parquet(s"$dir/out").count() == 100)
  }

  test("an empty source with a trailing save reports zero loaded without stalling") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fused-empty").toString
    val stat = Pipeline.of(fusedSource.limit(0))
      .filter("f", col("id") > 1)
      .save(s"$dir/out", "parquet")
      .go()
    assert(stat.loaded == 0)
    assert(stat.rejections == 0)
    // a loaded observe that never arrived would wait out metricOrZero's 10 s
    assert(stat.durationMs < 5000, s"go() took ${stat.durationMs} ms")
  }

  test("per-step timings segment the plan of a fused save") {
    // filter-a sits below a heavy groupAgg, filter-b above it over 50
    // rows: differing values mean the write's executed plan was
    // captured and segmented, not the everything-equals-action fallback
    val dir = java.nio.file.Files.createTempDirectory("graft-fused-timing").toString
    def build() = Pipeline.of(spark.range(200000L).toDF("id"))
      .filter("filter-a", col("id") % 2 === 0)
      .addField("g", col("id") % 100)
      .groupAgg(Seq("g"))(
        sum(xxhash64(sha2(repeat(col("id").cast("string"), 400), 512)) % 1000).as("h"),
        count(lit(1)).as("n"))
      .filter("filter-b", col("g") % 4 === 0)
      .save(s"$dir/out", "parquet")
    build().go() // warm the codegen paths
    val stat = build().go()
    assert(stat.loaded == 25) // 50 even residues mod 100, half of them multiples of 4
    assert(stat.rejections(RejectionCategory.IGNORE_ROW, "filter-b") == 25)
    val a = stat.stepTimings("filter-a")
    val b = stat.stepTimings("filter-b")
    assert(a != b, s"expected differing segment times, got a=$a b=$b (${stat.stepTimings})")
    assert(stat.stepTimings.contains(s"save($dir/out)"))
  }

  test("go() releases its caches when a rejection handler's sink throws") {
    spark.catalog.clearCache()
    val failing = new graft.sinks.Sink {
      def name = "failing"
      def write(df: DataFrame): Map[String, String] =
        throw new java.io.IOException("sink unavailable")
    }
    // the branch makes go() persist the source; the handler persists
    // the rejections and throws from inside its scope
    val err = intercept[java.io.IOException](Pipeline.of(people)
      .filter(col("gender") === "male")
      .branch(p => p.filter(col("id") > 1))
      .onRejection(rej => failing.write(rej))
      .go())
    assert(err.getMessage == "sink unavailable")
    assert(spark.sharedState.cacheManager.isEmpty, "go() left a cached frame behind")
  }
}
