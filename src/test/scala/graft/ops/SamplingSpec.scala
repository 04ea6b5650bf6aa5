package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sampling-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def keys = spark.range(0, 2000).toDF("k")

  test("hexThreshold: exact binary fractions give exact hex cuts") {
    assert(Sampling.hexThreshold(0.75) == "c00000000000")
    assert(Sampling.hexThreshold(0.875) == "e00000000000")
    assert(Sampling.hexThreshold(0.5) == "800000000000")
    assert(Sampling.hexThreshold(0.0) == "000000000000")
    assert(Sampling.hexThreshold(1.0 / 16) == "100000000000")
    intercept[IllegalArgumentException](Sampling.hexThreshold(1.0))
  }

  test("sampleByHash: deterministic across runs and near the fraction") {
    val a = Sampling.sampleByHash(keys, col("k"), 0.25, ":s1")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.sampleByHash(keys, col("k"), 0.25, ":s1")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // binomial(2000, 0.25): sd ~ 19; allow 5 sd
    assert(math.abs(a.size - 500) < 100)
    // a different salt draws an effectively independent sample
    val c = Sampling.sampleByHash(keys, col("k"), 0.25, ":s2")
      .collect().map(_.getLong(0)).toSet
    assert(c != a)
    // a smaller fraction with the same salt is a strict subset: the
    // decision is "prefix < cut", so raising the cut only adds keys
    val d = Sampling.sampleByHash(keys, col("k"), 0.1, ":s1")
      .collect().map(_.getLong(0)).toSet
    assert(d.subsetOf(a))
  }

  test("splitByHash: total, disjoint, deterministic, near weights") {
    val labeled = keys.withColumn("split", Sampling.splitByHash(col("k"),
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), ":sp"))
    val counts = labeled.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 2000)
    assert(math.abs(counts("train") - 1500) < 120)
    assert(math.abs(counts("val") - 250) < 90)
    // weights need not sum to 1 — normalized internally
    val norm = keys.withColumn("split", Sampling.splitByHash(col("k"),
      Seq("a" -> 3.0, "b" -> 1.0), ":sp2"))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(norm("a") - 1500) < 120)
  }

  test("splitByHash: negligible tail weight degrades gracefully, never throws") {
    // 0.5 + 0.5 dwarf 1e-17, so the second cumulative cut rounds to
    // 1.0 — the "c" label then gets ~nothing rather than crashing
    val counts = keys.withColumn("split", Sampling.splitByHash(col("k"),
      Seq("a" -> 0.5, "b" -> 0.5, "c" -> 1e-17), ":tiny"))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000)
    assert(counts.getOrElse("c", 0L) == 0L)
    assert(math.abs(counts("a") - 1000) < 120)
  }

  test("sampleByStratum: per-stratum fractions, keep-all, default, subset consistency") {
    val df = (0L until 3000L).map(i => (i, Seq("en", "de", "zh")((i % 3).toInt)))
      .toDF("k", "lang")
    val kept = Sampling.sampleByStratum(df, col("k"), col("lang"),
      Seq("en" -> 0.5, "zh" -> 1.0), defaultFraction = 0.125, salt = ":m")
    val counts = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("zh") == 1000)                       // fraction 1.0 keeps the stratum whole
    assert(math.abs(counts("en") - 500) < 100)         // ~0.5 of 1000
    assert(math.abs(counts.getOrElse("de", 0L) - 125) < 60) // default 0.125
    // the per-stratum decision IS sampleByHash on the stratum subset:
    // same key, same salt, same threshold -> identical membership
    val enViaGlobal = Sampling.sampleByHash(
      df.filter(col("lang") === "en"), col("k"), 0.5, ":m")
      .collect().map(_.getLong(0)).toSet
    val enViaStratum = kept.filter(col("lang") === "en")
      .collect().map(_.getLong(0)).toSet
    assert(enViaGlobal == enViaStratum)
    // deterministic across runs
    assert(kept.count() == Sampling.sampleByStratum(df, col("k"), col("lang"),
      Seq("en" -> 0.5, "zh" -> 1.0), 0.125, ":m").count())
    intercept[IllegalArgumentException](
      Sampling.sampleByStratum(df, col("k"), col("lang"), Seq.empty, 0.1, ":m"))
  }

  test("sampleByTokenBudget: equals the naive per-stratum window at every bucket width") {
    // real corpus, lang strata, n_chars as the weight — the bucketed
    // prefix sum must be bit-equal to the textbook one-window-per-
    // stratum form it replaces
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val budgets = Seq("en" -> 40000L, "de" -> 15000L, "zh" -> 5000L)
    val salt = ":tb-spec"
    def naive: Map[Long, Long] = {
      val hx = Sampling.hashPrefix(col("doc_id"), salt)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(hx, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val budget = budgets.foldRight(lit(null).cast("long")) {
        case ((l, b), els) => when(col("lang") === l, lit(b)).otherwise(els)
      }
      docs.withColumn("cum_before",
          coalesce(sum(coalesce(col("n_chars").cast("long"), lit(0L))).over(w), lit(0L)))
        .filter(col("cum_before") < budget)
        .select("doc_id", "cum_before")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val expected = naive
    assert(expected.nonEmpty)
    for (digits <- Seq(1, 2, 3)) {
      val got = Sampling.sampleByTokenBudget(
        docs, col("doc_id"), "lang", "n_chars", budgets, salt,
        bucketHexDigits = digits)
        .select("doc_id", "cum_before")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"bucketHexDigits=$digits diverged")
    }
  }

  test("sampleByTokenBudget: the upstream chain executes ONCE, not once per pass") {
    // the prefix sum makes two passes (cell sums, then running totals),
    // both over its own exchange's output: the upstream — q_prep_mix's
    // decontaminate+bucket+BPE chain — runs once, in that exchange's
    // map stage, with no checkpoint or persist. An accumulator-bumping
    // upstream proves the input rows are computed exactly once.
    val sc = spark.sparkContext
    val evals = sc.longAccumulator("upstream-evals")
    val rdd = sc.parallelize(0L until 1000L, 4).map { i =>
      evals.add(1L)
      org.apache.spark.sql.Row(i, if (i % 2 == 0) "en" else "de", i % 97)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tok", org.apache.spark.sql.types.LongType)))
    val df = spark.createDataFrame(rdd, schema)
    val kept = Sampling.sampleByTokenBudget(
      df, col("k"), "s", "tok", Seq("en" -> 5000L, "de" -> 3000L), ":once")
    assert(kept.count() > 0)
    assert(evals.value == 1000L,
      s"upstream evaluated ${evals.value} rows for a 1000-row input — " +
        "the two-pass protocol must compute its input once")
  }

  test("sampleByTokenBudget: crossing doc kept, unlisted strata dropped, null weight = 0") {
    val df = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L),
      ("b", 10L, 7L), ("c", 20L, 5L)
    ).toDF("s", "k", "tok")
      .unionAll(Seq(("a", 4L, Option.empty[Long])).toDF("s", "k", "tok"))
    // budget 1 token: the hash-first doc of stratum a crosses it and
    // is kept alone... unless the null-weight doc hashes first (it
    // contributes 0 and keeps cum_before at 0 for the next doc too)
    val kept = Sampling.sampleByTokenBudget(
      df, col("k"), "s", "tok", Seq("a" -> 1L), ":t")
      .select("s", "k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(kept.forall(_._1 == "a"))  // b and c have no budget
    // exactly: every doc with cum_before < 1, i.e. the hash-order
    // prefix of zero-weight docs plus the first weighted one
    val order = df.filter(col("s") === "a")
      .withColumn("h", Sampling.hashPrefix(col("k"), ":t"))
      .orderBy("h", "k").select("k", "tok").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    val expect = scala.collection.mutable.ArrayBuffer[Long]()
    var acc = 0L
    for ((k, t) <- order) { if (acc < 1L) expect += k; acc += t }
    assert(kept.map(_._2).sorted.toSeq == expect.sorted.toSeq)
    // a generous budget keeps the whole stratum
    val all = Sampling.sampleByTokenBudget(
      df, col("k"), "s", "tok", Seq("b" -> 1000L), ":t")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(all == Set(10L))
  }

  test("interleaveByWeight: priorities == naive window form; prefixes hold the weight ratio") {
    val df = (1 to 300).map(i =>
      (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "drop"))
      .toDF("k", "s")
    val weights = Seq("a" -> 3.0, "b" -> 1.0)
    val got = Sampling.interleaveByWeight(df, col("k"), "s", weights, ":il")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(r.fieldIndex("mix_priority"))))
    // unlisted stratum dropped
    assert(got.forall(_._2 != "drop") && got.length == 200)
    // naive reference: rank in (hash, key) order per stratum / weight
    val wmap = weights.toMap
    val ranks = df.filter(col("s") =!= "drop")
      .withColumn("h", Sampling.hashPrefix(col("k"), ":il"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._3, r._1)).zipWithIndex
          .map { case ((k, st, _), i) =>
            (k, (i + 1).toDouble / wmap(st)) }.toSeq
      }.toMap
    got.foreach { case (k, _, p) => assert(p == ranks(k), s"k=$k") }
    // the interleave property: in priority order, every prefix holds
    // the strata within one stride of the 3:1 weight ratio
    val ordered = got.sortBy(t => (t._3, t._2, t._1))
    var na = 0; var nb = 0
    ordered.foreach { case (_, s, _) =>
      if (s == "a") na += 1 else nb += 1
      // stratum b's k-th doc has priority k; a's 3k-th has priority k:
      // after any prefix, na is within a stride (3) of 3*nb
      assert(na <= 3 * (nb + 1) && 3 * nb <= 3 * (na + 3), s"prefix drifted: na=$na nb=$nb")
    }
    assert(na == 100 && nb == 100)
  }

  test("temperatureFractions: formula, clamp, label-order determinism; sampler drops null strata") {
    // alpha=1 is proportional: every stratum keeps T/total
    val prop = Sampling.temperatureFractions(
      Seq("a" -> 300L, "b" -> 100L), targetDocs = 100, alpha = 1.0).toMap
    assert(math.abs(prop("a") - 0.25) < 1e-12 && math.abs(prop("b") - 0.25) < 1e-12)
    // alpha=0.5 upweights the small stratum; formula hand-checked
    val t = Sampling.temperatureFractions(
      Seq("a" -> 400L, "b" -> 100L), targetDocs = 100, alpha = 0.5).toMap
    val sigma = math.sqrt(400.0) + math.sqrt(100.0) // label order a, b
    assert(t("a") == ((100.0 * 20.0) / sigma) / 400.0)
    assert(t("b") == ((100.0 * 10.0) / sigma) / 100.0)
    assert(t("b") > t("a"))
    // tiny stratum clamps at keep-all
    val c = Sampling.temperatureFractions(
      Seq("a" -> 10000L, "b" -> 2L), targetDocs = 5000, alpha = 0.5).toMap
    assert(c("b") == 1.0)
    // the one-call sampler: null strata dropped, kept set is the
    // per-stratum hash cut at the computed fractions
    val df = (1 to 200).map(i => (i.toLong, if (i % 5 == 0) null else if (i % 2 == 0) "x" else "y"))
      .toDF("k", "s")
    val kept = Sampling.sampleByTemperature(df, col("k"), "s",
      targetDocs = 100, alpha = 0.5, salt = ":tt")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.forall(_._2 != null))
    val counts = df.filter(col("s").isNotNull).groupBy("s").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val fr = Sampling.temperatureFractions(counts, 100, 0.5).toMap
    val expect = df.filter(col("s").isNotNull)
      .withColumn("h", Sampling.hashPrefix(col("k"), ":tt"))
      .collect().filter { r =>
        val f = fr(r.getString(1))
        f >= 1.0 || r.getString(2) < Sampling.hexThreshold(f)
      }.map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept.toSet == expect)
    // empty corpus passes through empty, no throw
    assert(Sampling.sampleByTemperature(df.filter(lit(false)), col("k"), "s",
      100, 0.5, ":tt").count() == 0)
  }

  test("sampleByProbability: per-row thresholds replayed; p>=1 keeps all; null p drops") {
    val df = Seq(
      (1L, Some(0.0)), (2L, Some(0.25)), (3L, Some(0.5)), (4L, Some(0.999)),
      (5L, Some(1.0)), (6L, Some(7.5)), (7L, Some(-2.0)), (8L, None: Option[Double]))
      .toDF("k", "p")
    val kept = Sampling.sampleByProbability(df, col("k"), col("p"), ":sp")
      .collect().map(_.getLong(0)).toSet
    // replay row by row with the driver-side exact threshold
    val expect = Seq(
      1L -> 0.0, 2L -> 0.25, 3L -> 0.5, 4L -> 0.999, 5L -> 1.0,
      6L -> 1.0, 7L -> 0.0).filter { case (k, p) =>
      val h = df.sparkSession.range(1)
        .select(Sampling.hashPrefix(lit(k.toString), ":sp")).head().getString(0)
      p >= 1.0 || h < Sampling.hexThreshold(p)
    }.map(_._1).toSet
    assert(kept == expect)
    assert(!kept.contains(8L) && !kept.contains(1L) && !kept.contains(7L))
    assert(kept.contains(5L) && kept.contains(6L))
    // law of large numbers smoke: p=0.3 over 4000 keys keeps ~30%
    val many = spark.range(4000).toDF("k").withColumn("p", lit(0.3))
    val n = Sampling.sampleByProbability(many, col("k"), col("p"), ":sp").count()
    assert(n > 1000 && n < 1400, s"kept $n of 4000 at p=0.3")
  }

  test("oversampleByMultiplicity: sure copies + hash-decided fractional copy; expected multiplicity exact") {
    val df = (0 until 200).map(i => (if (i % 4 == 0) "hi" else "lo", i.toLong))
      .toDF("s", "k")
    val mult = Seq("hi" -> 2.5, "lo" -> 0.4)
    val out = Sampling.oversampleByMultiplicity(df, col("k"), "s", mult, ":ov")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // every hi doc appears with copies 0 and 1 for sure; copy 2 iff the
    // (key#2) hash clears the 0.5 threshold — replay it
    val hiDocs = (0 until 200).filter(_ % 4 == 0).map(_.toLong)
    hiDocs.foreach { k =>
      assert(out.contains(("hi", k, 0)) && out.contains(("hi", k, 1)))
    }
    val thrHalf = Sampling.hexThreshold(0.5)
    val expectThird = hiDocs.filter { k =>
      val h = df.sparkSession.range(1).select(
        Sampling.hashPrefix(concat(lit(k.toString), lit("#2")), ":ov")).head().getString(0)
      h < thrHalf
    }.toSet
    assert(out.filter(r => r._1 == "hi" && r._3 == 2).map(_._2).toSet == expectThird)
    // lo docs: copy 0 only, kept iff hash(key#0) < 0.4 threshold
    val thr04 = Sampling.hexThreshold(0.4)
    val loKept = out.filter(_._1 == "lo")
    assert(loKept.forall(_._3 == 0))
    val expectLo = (0 until 200).filterNot(_ % 4 == 0).map(_.toLong).filter { k =>
      val h = df.sparkSession.range(1).select(
        Sampling.hashPrefix(concat(lit(k.toString), lit("#0")), ":ov")).head().getString(0)
      h < thr04
    }.toSet
    assert(loKept.map(_._2).toSet == expectLo)
    // an exactly-integral multiplicity never emits the extra copy
    val exact = Sampling.oversampleByMultiplicity(df, col("k"), "s",
      Seq("hi" -> 2.0), ":ov").collect()
    assert(exact.length == hiDocs.length * 2)
    // unclamped multiplicities: m > 1 for the boosted stratum
    val m = Sampling.temperatureMultiplicities(
      Seq("a" -> 1000L, "b" -> 10L), targetDocs = 500, alpha = 0.5).toMap
    assert(m("b") > 1.0 && m("a") < 1.0)
  }

  test("temperature samplers: maxStrata is loud within a partition and after the merge") {
    // 6 strata over 3 partitions, 2 per partition: only the merge sees 6
    val spread = (0 until 60).map(i => (i.toLong, s"s${i % 6}", 1L)).toDF("k", "s", "tok")
      .repartition(3, (col("k") % 3).cast("int"))
    // 6 strata in ONE partition: that task alone passes the bound
    val packed = spread.coalesce(1)
    Seq(spread, packed).foreach { df =>
      val e = intercept[IllegalArgumentException](
        Sampling.sampleByTemperature(df, col("k"), "s", 30, 0.5, ":ms", maxStrata = 5))
      assert(e.getMessage.contains("more than 5 strata"), e.getMessage)
      val t = intercept[IllegalArgumentException](
        Sampling.sampleByTokenTemperature(df, col("k"), "s", "tok", 30, 0.5, ":ms", maxStrata = 5))
      assert(t.getMessage.contains("more than 5 strata"), t.getMessage)
      // at the bound itself both build
      Sampling.sampleByTemperature(df, col("k"), "s", 30, 0.5, ":ms", maxStrata = 6)
      Sampling.sampleByTokenTemperature(df, col("k"), "s", "tok", 30, 0.5, ":ms", maxStrata = 6)
    }
    // counts merge across partitions: the fractions see 10 rows per stratum
    val kept = Sampling.sampleByTemperature(spread, col("k"), "s", 30, 0.5, ":ms")
      .collect().map(_.getLong(0)).toSet
    val fr = Sampling.temperatureFractions((0 until 6).map(i => s"s$i" -> 10L), 30, 0.5).toMap
    val expect = spread.withColumn("h", Sampling.hashPrefix(col("k"), ":ms")).collect()
      .filter(r => r.getString(3) < Sampling.hexThreshold(fr(r.getString(1))))
      .map(_.getLong(0)).toSet
    assert(kept == expect)
  }

  test("sampleByTokenTemperature: token-mass fractions, zero-mass strata dropped, loud on all-zero") {
    // two strata with EQUAL doc counts but 9:1 token mass — doc-count
    // temperature would cut them identically; token-mass must not
    val df = (0 until 40).map { i =>
      val s = if (i % 2 == 0) "big" else "small"
      (s, i.toLong, if (s == "big") 900L else 100L)
    }.toDF("s", "k", "tok")
    val kept = Sampling.sampleByTokenTemperature(
      df, col("k"), "s", "tok", targetTokens = 10000, alpha = 0.5, salt = ":tk")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // replay: totals big=18000, small=2000; fractions from the shared
    // formula over token mass
    val fr = Sampling.temperatureFractions(
      Seq("big" -> 18000L, "small" -> 2000L), 10000, 0.5).toMap
    val expect = df.withColumn("h", Sampling.hashPrefix(col("k"), ":tk"))
      .collect().filter { r =>
        val f = fr(r.getString(0))
        f >= 1.0 || r.getString(3) < Sampling.hexThreshold(f)
      }.map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept.toSet == expect)
    // a zero-mass stratum takes no share (dropped from the cut)
    val withZero = df.union(Seq(("empty", 999L, 0L)).toDF("s", "k", "tok"))
    assert(!Sampling.sampleByTokenTemperature(withZero, col("k"), "s", "tok",
      10000, 0.5, ":tk").collect().map(_.getString(0)).contains("empty"))
    // all-zero mass fails loudly, not silently-empty
    val zeros = Seq(("a", 1L, 0L)).toDF("s", "k", "tok")
    intercept[IllegalArgumentException](
      Sampling.sampleByTokenTemperature(zeros, col("k"), "s", "tok", 10, 0.5, ":tk"))
  }

  test("mixtureAudit: realized/budget/contract per stratum over a cut") {
    val df = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L),
      ("b", 10L, 7L)).toDF("s", "k", "tok")
    val budgets = Seq("a" -> 150L, "b" -> 1000L)
    val cut = Sampling.sampleByTokenBudget(df, col("k"), "s", "tok", budgets, ":t")
    val audit = Sampling.mixtureAudit(cut, "s", "tok", budgets)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    // a: 150-token budget over 100-token docs keeps exactly two (the
    // second crosses); realized 200, utilization 4/3, within one doc
    assert(audit("a") == ((2L, 200L, 150L, 200.0 / 150.0, true)))
    // b: budget exceeds the stratum — keep-all, utilization < 1
    assert(audit("b") == ((1L, 7L, 1000L, 7.0 / 1000.0, true)))
    // a stratum absent from the budget list audits with NULL budget;
    // budgeted strata with ZERO kept documents still get a row (n_docs
    // 0, realized 0, utilization 0) — "stratum missing from the cut"
    // must be visible in the table, not silently absent from it
    val rows = Sampling.mixtureAudit(
      Seq(("z", 1L, 5L)).toDF("s", "k", "tok"), "s", "tok", budgets)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("a", "b", "z"))
    val foreign = rows("z")
    assert(foreign.isNullAt(3) && foreign.isNullAt(4) && foreign.isNullAt(5))
    Seq("a", "b").foreach { s =>
      val r = rows(s)
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L)   // n_docs, realized
      assert(r.getLong(3) == Map(budgets: _*)(s))        // budget
      assert(r.getDouble(4) == 0.0 && r.getBoolean(5))   // utilization, contract
    }
  }

  test("sampleByTokenBudget: a binary stratum column gets correct offsets (value equality)") {
    // collected BinaryType cells are Array[Byte] — reference equality
    // in the driver fold would reset the offset at EVERY bucket and
    // silently over-fill the budget; wrap-for-comparison must fix it
    val df = spark.range(0, 200).toDF("k")
      .withColumn("s", org.apache.spark.sql.functions.lit("x".getBytes))
      .withColumn("tok", lit(10L))
    // budget 500 = 50 docs; bucketHexDigits=1 → 16 buckets, so a
    // reset-per-bucket bug would keep ~16x too many docs
    val kept = Sampling.sampleByTokenBudget(
      df, col("k"), "s", "tok",
      Seq("x" -> 500L), ":bin", bucketHexDigits = 1)
    assert(kept.count() == 50)
  }

  test("sampleByTokenBudget: a null key fails loudly instead of corrupting offsets") {
    // a null key hashes to a null bucket, a cell with no place in the
    // running order — the prefix sum's driver-side cell check must fire
    val df = Seq((Option(1L), "a", 10L), (Option.empty[Long], "a", 10L))
      .toDF("k", "s", "tok")
    val e = intercept[IllegalArgumentException] {
      Sampling.sampleByTokenBudget(df, col("k"), "s", "tok", Seq("a" -> 100L), ":t")
        .count()
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("sampleByTokenBudget: identical-copy key ties pass; differing weights raise") {
    // tied keys are tolerated ONLY as identical copies — two rows
    // sharing a key with the SAME weight cannot change which weight
    // crosses the budget, so they pass
    val same = Seq((1L, "a", 10L), (1L, "a", 10L), (2L, "a", 5L))
      .toDF("k", "s", "tok")
    assert(Sampling.sampleByTokenBudget(
      same, col("k"), "s", "tok", Seq("a" -> 100L), ":t").count() == 3)
    // differing weights under a tied key make the cut depend on the
    // arbitrary tie order — fail loudly from the executors
    val diff = Seq((1L, "a", 10L), (1L, "a", 20L), (2L, "a", 5L))
      .toDF("k", "s", "tok")
    val e = intercept[Throwable] {
      Sampling.sampleByTokenBudget(
        diff, col("k"), "s", "tok", Seq("a" -> 100L), ":t").count()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msg.contains("DIFFERING weights"), msg)
    // NULL weights count as 0 on BOTH copies — still identical, passes
    val nulls = Seq((1L, "a", Option.empty[Long]), (1L, "a", Option.empty[Long]))
      .toDF("k", "s", "tok")
    assert(Sampling.sampleByTokenBudget(
      nulls, col("k"), "s", "tok", Seq("a" -> 100L), ":t").count() == 2)
  }

  test("shuffleByHash: a reproducible permutation; local variant adds no exchange") {
    val df = keys
    val p1 = Sampling.shuffleByHash(df, col("k"), ":sh").collect().map(_.getLong(0)).toSeq
    val p2 = Sampling.shuffleByHash(df, col("k"), ":sh").collect().map(_.getLong(0)).toSeq
    assert(p1 == p2)                       // rerun-stable
    assert(p1.sorted == (0L until 2000L))  // a true permutation
    assert(p1 != (0L until 2000L).toSeq)   // and actually shuffled
    val p3 = Sampling.shuffleByHash(df, col("k"), ":other").collect().map(_.getLong(0)).toSeq
    assert(p3 != p1)                       // salt draws a new permutation
    // per-shard variant: sorted inside partitions, NO exchange in plan
    val local = Sampling.shuffleByHash(df, col("k"), ":sh", local = true)
    local.collect()
    val plan = local.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"local shuffle must not exchange:\n$plan")
  }

  test("stratifiedSample: n per stratum, deterministic, sample changes with salt") {
    val df = (0L until 400L).map(i => (i % 8, i)).toDF("g", "k")
    val s1 = Sampling.stratifiedSample(df, Seq("g"), "k", 5, ":x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1.size == 40)
    assert(s1.groupBy(_._1).forall(_._2.size == 5))
    val s2 = Sampling.stratifiedSample(df, Seq("g"), "k", 5, ":x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1 == s2)
    val s3 = Sampling.stratifiedSample(df, Seq("g"), "k", 5, ":y")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s3 != s1)
    // stratum smaller than n: all rows survive
    val tiny = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("g", "k")
    assert(Sampling.stratifiedSample(tiny, Seq("g"), "k", 5, ":x").count() == 3)
  }

  test("stratified hash order matches the oracle's (hex prefix, key) order") {
    // the Spark side ranks by the NUMERIC 48-bit prefix; the oracle by
    // the hex STRING — verify they agree on a concrete stratum
    val df = (0L until 200L).map(i => (0L, i)).toDF("g", "k")
    val got = Sampling.stratifiedSample(df, Seq("g"), "k", 7, ":o")
      .collect().map(_.getLong(1)).toSet
    val expected = (0L until 200L)
      .sortBy { k =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$k:o".getBytes("UTF-8"))
        (md.map("%02x".format(_)).mkString.take(12), k)
      }
      .take(7).toSet
    assert(got == expected)
  }

  test("groupTopK itself guards the long-cast site, covering every caller") {
    val df = Seq((1L, 1.0, "a"), (1L, 2.0, "b")).toDF("g", "o", "k")
    val e = intercept[IllegalArgumentException](
      Aggregators.groupTopK(df, Seq("g"), "o", "k", 1))
    assert(e.getMessage.contains("integral"))
  }

  test("stratifiedSample rejects a non-integral key column loudly") {
    // the top-k buffers carry the key as LONG; a string key would hash
    // fine but come back NULL — the contract is enforced, not silent
    val df = Seq((1L, "a"), (1L, "b")).toDF("g", "k")
    val e = intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(df, Seq("g"), "k", 1, ":x")
    }
    assert(e.getMessage.contains("integral column"))
  }

  test("sampleByProbability: NaN probability drops like NULL, never keep-all") {
    // Spark orders NaN above every double, so without the guard
    // least(greatest(NaN, 0), 1) resolves to 1.0 — keep-all for an
    // invalid score. The rule: no score, no draw.
    val df = Seq(
      (1L, Double.NaN), (2L, 0.7), (3L, Double.NaN), (4L, 1.0))
      .toDF("k", "p")
    val kept = Sampling.sampleByProbability(df, col("k"), col("p"), ":nan")
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(1L) && !kept.contains(3L))
    assert(kept.contains(4L))
    // and NaN arriving via an expression behaves the same (0/0 would
    // throw under ANSI; NaN-propagating arithmetic does not)
    val df2 = Seq((1L, Double.NaN), (2L, 1.0)).toDF("k", "num")
    val kept2 = Sampling.sampleByProbability(
      df2, col("k"), col("num") * lit(2.0), ":nan").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(2L))
  }

  test("oversampleByMultiplicity: empty multiplicity list ships nothing, same schema") {
    // the counts an empty or all-null corpus produces — empty-in ⇒
    // empty-out with the (input ++ copy) schema, not a contract error
    val df = Seq(("en", 1L), ("fr", 2L)).toDF("s", "k")
    val out = Sampling.oversampleByMultiplicity(
      df, col("k"), "s", Seq.empty, ":ov")
    assert(out.columns.toSeq == Seq("s", "k", "copy"))
    assert(out.count() == 0)
    // and the composed empty-corpus path: counts of an empty frame →
    // empty multiplicities → empty oversample, no throw anywhere
    val empty = df.filter(lit(false))
    val counts = empty.groupBy(col("s")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val mult = Sampling.temperatureMultiplicities(counts, 600, alpha = 0.5)
    assert(Sampling.oversampleByMultiplicity(
      empty, col("k"), "s", mult, ":ov").count() == 0)
  }

  test("mixtureAudit: a budget label that cannot cast to the stratum type fails loudly") {
    // with ANSI off the Cast resolves in analysis and yields NULL at
    // runtime — which would surface as a spurious never-joining
    // null-stratum budget row; the driver-side validation names it
    val df = Seq((10L, 1L, 5L), (20L, 2L, 7L)).toDF("s", "k", "tok")
    val e = intercept[IllegalArgumentException] {
      Sampling.mixtureAudit(df, "s", "tok", Seq("10" -> 100L, "oops" -> 50L))
    }
    assert(e.getMessage.contains("oops") && !e.getMessage.contains("10,"))
    // numeric-parseable labels against a numeric stratum still work
    val audit = Sampling.mixtureAudit(df, "s", "tok", Seq("10" -> 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(audit(10L) == 5L)
  }

  test("temperatureFractions == min(1, temperatureMultiplicities) — one shared core") {
    val counts = Seq("a" -> 1000L, "b" -> 10L, "c" -> 333L)
    val f = Sampling.temperatureFractions(counts, 500, 0.5)
    val m = Sampling.temperatureMultiplicities(counts, 500, 0.5)
    assert(f == m.map { case (s, x) => s -> math.min(1.0, x) })
  }
}
