package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-packing-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // sparse, unordered ids (incl. a gap and unsorted input order)
  private def df = Seq(
    (7L, 3L), (1L, 10L), (12L, 1L), (3L, 5L), (8L, 0L), (25L, 4L), (2L, 7L))
    .toDF("id", "w")

  private def naive = {
    val w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before", coalesce(sum(col("w")).over(w), lit(0L)))
      .select("id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("globalCumsum equals the naive global window at every bucket width") {
    val expected = naive
    for (width <- Seq(1L, 2L, 7L, 100L, 100000L)) {
      val got = Packing.globalCumsum(df, "id", "w", width)
        .select("id", "cum_before")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"bucketWidth=$width")
    }
  }

  test("assignShards chunks by the first-token position") {
    // ordered weights: 10,7,5,3,0,1,4 -> exclusive cumsums 0,10,17,22,25,25,26
    val got = Packing.assignShards(df, "id", "w", budget = 10, bucketWidth = 3)
      .select("id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 7L -> 2L, 8L -> 2L, 12L -> 2L, 25L -> 2L))
  }

  test("random weights match the naive window (seeded)") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 500L).map(i => (i * 3 + rnd.nextInt(2), rnd.nextInt(50).toLong))
      .distinctBy(_._1)
    val d = rows.toDF("id", "w")
    val w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    val expected = d.withColumn("c", coalesce(sum(col("w")).over(w), lit(0L)))
      .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Packing.globalCumsum(d, "id", "w", 37)
      .select("id", "cum_before").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("bucket guard and argument validation") {
    intercept[IllegalArgumentException](Packing.globalCumsum(df, "id", "w", 0))
    intercept[IllegalArgumentException](Packing.assignShards(df, "id", "w", budget = 0))
    // reserved output/temp columns fail fast instead of being clobbered
    intercept[IllegalArgumentException](
      Packing.globalCumsum(df.withColumn("cum_before", col("w")), "id", "w"))
  }

  test("buildShards concatenates in doc order with exact shard totals") {
    val docs = Seq(
      (1L, "one two three", 3L), (2L, "four five", 2L), (3L, "six", 1L),
      (4L, "seven eight nine ten", 4L), (5L, "eleven", 1L))
      .toDF("id", "text", "w")
    // budget 5: cum_before = 0,3,5,6,10 -> shards 0,0,1,1,2
    val out = Packing.buildShards(docs, "id", "text", "w", budget = 5, sep = " <eos> ", bucketWidth = 2)
      .orderBy("shard_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L)) // n_docs
    assert(out.map(_.getLong(2)).toSeq == Seq(5L, 5L, 1L)) // n_tokens
    assert(out.map(_.getString(3)).toSeq == Seq(
      "one two three <eos> four five",
      "six <eos> seven eight nine ten",
      "eleven"))
  }

  test("buildShardsWithBoundaries: offsets are exclusive prefix sums in shard order") {
    val docs = Seq(
      (1L, "one two three", 3L), (2L, "four five", 2L), (3L, "six", 1L),
      (4L, "seven eight nine ten", 4L), (5L, "eleven", 1L))
      .toDF("id", "text", "w")
    // budget 5: shards 0=[1,2] 1=[3,4] 2=[5]
    val out = Packing.buildShardsWithBoundaries(
      docs, "id", "text", "w", budget = 5, sep = " ", bucketWidth = 2)
      .orderBy("shard_id").collect()
    // buildShards columns preserved (plus doc_offsets)
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L))
    assert(out.map(_.getLong(2)).toSeq == Seq(5L, 5L, 1L))
    assert(out.map(_.getString(3)).toSeq == Seq(
      "one two three four five", "six seven eight nine ten", "eleven"))
    // the boundary table: doc i starts at the sum of its predecessors
    assert(out.map(_.getSeq[Long](4).toSeq).toSeq ==
      Seq(Seq(0L, 3L), Seq(0L, 1L), Seq(0L)))
    // a NULL weight contributes 0 to later offsets (SQL-SUM rule)
    val withNull = Seq((1L, "a", Some(2L)), (2L, "b", None), (3L, "c", Some(1L)))
      .toDF("id", "text", "w")
    val one = Packing.buildShardsWithBoundaries(
      withNull, "id", "text", "w", budget = 100, bucketWidth = 2)
      .collect().head
    assert(one.getSeq[Long](4).toSeq == Seq(0L, 2L, 2L))
  }

  test("null weights count as zero; null order keys fail loudly") {
    val withNullW = Seq((1L, Some(5L)), (2L, None), (3L, Some(2L)))
      .toDF("id", "w")
    val got = Packing.globalCumsum(withNullW, "id", "w", 2)
      .select("id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 5L))
    val withNullId = Seq((Some(1L), 5L), (None, 3L)).toDF("id", "w")
    // building the frame runs nothing; the driver's cell check raises
    // when the action runs
    val e = intercept[IllegalArgumentException](
      Packing.globalCumsum(withNullId, "id", "w", 2).collect())
    assert(e.getMessage.contains("NULL"))
  }

  // The order-key contract raises from the executors at execution
  // time (the check rides the prefix sum's pass); the message we planted
  // sits somewhere down the task-failure cause chain.
  private def execFailureMessage(body: => Unit): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
  }

  test("duplicate order keys fail loudly (rerun-stability contract)") {
    // two rows share id=2 — the packed layout's tie order would be
    // arbitrary; the check must trip in BOTH the cumsum primitive and
    // the tensor path built on it
    val dup = Seq((1L, 5L), (2L, 3L), (2L, 7L)).toDF("id", "w")
    val m = execFailureMessage(
      Packing.globalCumsum(dup, "id", "w", 100).collect())
    assert(m.contains("UNIQUE"), m)
    val dupDocs = Seq((1L, Seq(1, 2)), (1L, Seq(3))).toDF("id", "ids")
    val m2 = execFailureMessage(
      Packing.packTokenIds(dupDocs, "id", "ids", seqLen = 4, padId = 0)
        .collect())
    assert(m2.contains("UNIQUE"), m2)
    // duplicates in DIFFERENT buckets of the same corpus still trip
    // (same key ⇒ same bucket, so this needs keys duplicated within
    // one bucket while other buckets stay clean)
    val spread = Seq((1L, 1L), (5L, 1L), (5L, 2L), (9L, 1L)).toDF("id", "w")
    val m3 = execFailureMessage(
      Packing.globalCumsum(spread, "id", "w", 2).collect())
    assert(m3.contains("UNIQUE"), m3)
    // and a clean unique corpus still passes untouched
    val clean = Seq((1L, 5L), (2L, 3L), (3L, 7L)).toDF("id", "w")
    assert(Packing.globalCumsum(clean, "id", "w", 2).count() == 3)
  }

  test("the order-key guard cannot be pruned away with cum_before") {
    // the guard travels as a Filter, not inside the cum_before
    // expression — so a consumer that drops cum_before before the
    // action still gets contract enforcement
    val dup = Seq((1L, 5L), (2L, 3L), (2L, 7L)).toDF("id", "w")
    val m = execFailureMessage(
      Packing.globalCumsum(dup, "id", "w", 100).drop("cum_before").collect())
    assert(m.contains("UNIQUE"), m)
    val nul = Seq((Some(1L), 5L), (None, 3L)).toDF("id", "w")
    // (the driver-side cell check catches the null first — either
    // guard layer firing is contract-satisfying)
    val m2 = execFailureMessage(
      Packing.globalCumsum(nul, "id", "w", 100).drop("cum_before").collect())
    assert(m2.toLowerCase.contains("non-null"), m2)
    // a clean corpus loses no rows to the guard filter
    val clean = Seq((1L, 5L), (2L, 3L), (3L, 7L)).toDF("id", "w")
    assert(Packing.globalCumsum(clean, "id", "w", 2)
      .drop("cum_before").count() == 3)
  }

  test("the order-key guard rides the prefix sum: ONE PrefixSum exec, ONE sort") {
    // the shuffle-free claim under audit: the null/duplicate probe runs
    // in the prefix sum's own pass over its sorted cells — a Window or
    // a second Sort would mean the guard bought its check with an
    // extra pass over the corpus
    val clean = Seq((1L, 5L), (2L, 3L), (3L, 7L), (4L, 2L)).toDF("id", "w")
    val out = Packing.globalCumsum(clean, "id", "w", 2)
    out.collect()
    // AQE's toString prints the plan twice (Final + Initial) — count
    // nodes in the final section only
    val plan = out.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val sums = plan.linesIterator.count(_.contains("PrefixSum cells="))
    val windows = plan.linesIterator.count(_.contains("Window ["))
    val sorts = plan.linesIterator.count(l =>
      l.contains("Sort [") && !l.contains("SortMergeJoin"))
    assert(sums == 1, s"expected exactly one PrefixSum exec:\n$plan")
    assert(windows == 0, s"expected no Window exec:\n$plan")
    assert(sorts == 1, s"expected exactly one Sort (the prefix sum's):\n$plan")
  }

  test("packTokenIds: the upstream runs once per input row, not once per pass") {
    // the prefix sum reads its exchange twice (cell sums, then running
    // totals); the rows above the exchange — an encoder in a real flow
    // — must be computed once
    val sc = spark.sparkContext
    val evals = sc.longAccumulator("pack-upstream-evals")
    val n = 1000
    val rdd = sc.parallelize(0 until n, 4).map { i =>
      evals.add(1L)
      org.apache.spark.sql.Row(i.toLong, Seq.fill(1 + i % 7)(i % 50))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ids",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType))))
    val seqs = Packing.packTokenIds(spark.createDataFrame(rdd, schema), "id", "ids",
      seqLen = 16).collect()
    val tokens = (0 until n).map(i => 1 + i % 7).sum
    assert(seqs.length == (tokens + 15) / 16)
    assert(evals.value == n.toLong,
      s"upstream evaluated ${evals.value} rows for a $n-row input")
  }

  test("the summing pass sorts nothing: one result stage holds sort memory, the output pass") {
    // a sort's tasks report peak execution memory; the summing job reads
    // the exchange below the sort, so only the output pass may report any
    val sc = spark.sparkContext
    val peaks = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    @volatile var sentinel = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && e.taskMetrics != null)
          peaks.merge(e.stageId, e.taskMetrics.peakExecutionMemory, (a, b) => a + b)
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "sentinel") sentinel = true
    }
    def sortingStages(action: => Unit): Int = {
      peaks.clear(); sentinel = false
      action
      sc.setJobGroup("sentinel", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel, "listener never saw the sentinel job")
      peaks.values.toArray.count(_.asInstanceOf[java.lang.Long] > 0)
    }
    val rows = spark.range(0, 2000, 1, 4)
      .select(col("id"), (col("id") % 7).as("w"),
        array_repeat(col("id").cast("int"), (col("id") % 5).cast("int")).as("ids"))
    sc.addSparkListener(listener)
    try {
      assert(sortingStages(Packing.globalCumsum(rows, "id", "w", 100).collect()) == 1)
      assert(sortingStages(Packing.packTokenIds(rows, "id", "ids", 16, bucketWidth = 100)
        .collect()) == 1)
    } finally sc.removeSparkListener(listener)
  }

  test("globalCumsum output joins with itself") {
    // the analyzer renews the exprIds of a self-joined side; cum_before
    // must be one it can renew
    val c = Packing.globalCumsum(df, "id", "w", 2)
    val pairs = c.as("a").join(c.as("b"), col("a.id") === col("b.id"))
      .select(col("a.cum_before"), col("b.cum_before")).collect()
    assert(pairs.length == 7 && pairs.forall(r => r.getLong(0) == r.getLong(1)))
    assert(pairs.map(_.getLong(0)).toSet == naive.values.toSet)
  }

  test("NULL in a secondary order column fails with the NULL-key message") {
    // Sampling callers order by (tbh, key) — a NULL in the secondary
    // column is invisible to the driver-side cell check (the bucket
    // derives from the primary), so the window guard must name it
    val in = Seq((1L, Some(10L), 1L), (2L, None, 1L), (3L, Some(30L), 1L))
      .toDF("a", "b", "w")
    val m = execFailureMessage(
      Packing.bucketedCumsum(in, Seq.empty, floor(col("a") / 2),
        Seq(col("a"), col("b")), col("w"), "spec").collect())
    assert(m.contains("NULL order key"), m)
  }

  test("packWholeDocs: next-fit without splitting — fills, pads, bucket restart, guards") {
    val docs = Seq(
      (1L, Seq(1, 2, 3)),  // seq 0: [1,2,3] — next doc (2 ids) won't fit
      (2L, Seq(4, 5)),     // seq 1: [4,5,
      (3L, Seq(6)),        //          6,
      (4L, Seq(7)),        //          7] exact fit
      (105L, Seq(8, 9))    // bucket 1 restarts the fold: seq 100
    ).toDF("id", "ids")
    val out = Packing.packWholeDocs(docs, "id", "ids",
      seqLen = 4, padId = 0, bucketWidth = 100)
      .orderBy("seq_id").collect()
    assert(out.length == 3)
    def row(i: Int) = (out(i).getLong(0), out(i).getSeq[Int](1),
      out(i).getSeq[Long](2), out(i).getSeq[Int](3),
      out(i).getInt(4), out(i).getInt(5))
    assert(row(0) == ((0L, Seq(1, 2, 3, 0), Seq(1L), Seq(0), 1, 1)))
    assert(row(1) == ((1L, Seq(4, 5, 6, 7), Seq(2L, 3L, 4L), Seq(0, 2, 3), 3, 0)))
    assert(row(2) == ((100L, Seq(8, 9, 0, 0), Seq(105L), Seq(0), 1, 2)))
    // empty/null id lists contribute nothing
    val withEmpty = docs.unionByName(
      Seq((5L, Seq.empty[Int]), (6L, null: Seq[Int])).toDF("id", "ids"))
    assert(Packing.packWholeDocs(withEmpty, "id", "ids", seqLen = 4,
      bucketWidth = 100).count() == 3)
    // oversized doc fails loudly (cannot be packed whole)
    val over = Seq((1L, Seq(1, 2, 3, 4, 5))).toDF("id", "ids")
    val m = execFailureMessage(
      Packing.packWholeDocs(over, "id", "ids", seqLen = 4).collect())
    assert(m.contains("packed whole"), m)
    // duplicate / NULL order keys fail loudly
    val dup = Seq((1L, Seq(1)), (1L, Seq(2))).toDF("id", "ids")
    assert(execFailureMessage(
      Packing.packWholeDocs(dup, "id", "ids", seqLen = 4).collect())
      .contains("UNIQUE"))
    val nul = Seq((Some(1L), Seq(1)), (None, Seq(2))).toDF("id", "ids")
    assert(execFailureMessage(
      Packing.packWholeDocs(nul, "id", "ids", seqLen = 4).collect())
      .contains("NULL order key"))
    // withCausalLabels composes over the output unchanged
    val lab = Packing.withCausalLabels(
      Packing.packWholeDocs(docs, "id", "ids", seqLen = 4, bucketWidth = 100))
    assert(lab.columns.contains("labels") && lab.count() == 3)
  }

  test("packWholeDocs plans ONE exchange: bucket repartition, in-partition sort, streaming fold") {
    // the scale claim as a plan property — the only data movement is
    // the hash partition by bucket; the sort is within partitions
    // (sortWithinPartitions adds no Exchange) and the fold is one
    // mapPartitions pass
    val docs = (0L until 50L).map(i => (i, Seq.fill(3)(i.toInt)))
      .toDF("id", "ids")
    val out = Packing.packWholeDocs(docs, "id", "ids", seqLen = 8,
      bucketWidth = 10)
    out.collect()
    val plan = out.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"expected exactly one Exchange:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"bucket partitioning must be hash, not a global sort:\n$plan")
  }

  test("packWholeDocs == naive next-fit reference on random corpora (seeded)") {
    val rnd = new scala.util.Random(20260815L)
    for (round <- 0 until 10) {
      val seqLen = 4 + rnd.nextInt(12)
      val bw = 8 + rnd.nextInt(40)
      val nDocs = 20 + rnd.nextInt(150)
      // sparse, shuffled keys so bucket boundaries and partitioning
      // are both exercised; rounds rotate the key space NEGATIVE
      // (floor-division bucketing must keep matching the reference
      // below zero) and ABOVE 2^53 (where floor(double /) bucketing
      // would round keys across boundaries and collide seq_ids —
      // the exact-integer floorDivBucket regression); lengths in
      // [1, seqLen]
      val shift = round % 3 match {
        case 0 => 0L
        case 1 => -(nDocs * 2L)
        case _ => (1L << 53) + 12345L
      }
      val keys = rnd.shuffle((0 until nDocs * 3).map(_ + shift).toVector)
        .take(nDocs).sorted
      val corpus = keys.map(k =>
        (k, Seq.fill(1 + rnd.nextInt(seqLen))(rnd.nextInt(1000))))
      val naive = {
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Seq[Int], Seq[Long], Seq[Int], Int, Int)]
        corpus.groupBy { case (k, _) => math.floorDiv(k, bw) }.toSeq
          .sortBy(_._1).foreach { case (b, ds) =>
            var local = 0L
            var fill = 0
            var ids = Vector.empty[Int]
            var dids = Vector.empty[Long]
            var offs = Vector.empty[Int]
            def flush(): Unit = if (dids.nonEmpty) {
              out += ((b * bw + local, ids ++ Seq.fill(seqLen - fill)(0),
                dids, offs, dids.length, seqLen - fill))
              local += 1; fill = 0; ids = Vector.empty
              dids = Vector.empty; offs = Vector.empty
            }
            ds.sortBy(_._1).foreach { case (k, d) =>
              if (fill + d.length > seqLen) flush()
              offs :+= fill; dids :+= k; ids ++= d; fill += d.length
            }
            flush()
          }
        out.sortBy(_._1).toSeq
      }
      val got = Packing.packWholeDocs(
        corpus.toDF("id", "ids").repartition(7), "id", "ids",
        seqLen, padId = 0, bucketWidth = bw)
        .orderBy("seq_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1), r.getSeq[Long](2),
          r.getSeq[Int](3), r.getInt(4), r.getInt(5))).toSeq
      assert(got == naive, s"round $round seqLen=$seqLen bw=$bw n=$nDocs")
    }
  }

  test("packTokenIds: concat-and-chunk into fixed-length sequences with pad and boundaries") {
    val docs = Seq(
      (1L, Seq(1, 2, 3)), (2L, Seq(4, 5)), (3L, Seq(6)))
      .toDF("id", "ids")
    val seqs = Packing.packTokenIds(docs, "id", "ids", seqLen = 4, padId = 0)
      .orderBy("seq_id").collect()
    assert(seqs.length == 2)
    // seq 0: doc1 whole (off 0) + doc2's first id (off 3)
    assert(seqs(0).getSeq[Int](1) == Seq(1, 2, 3, 4))
    assert(seqs(0).getSeq[Int](2) == Seq(0, 3))
    assert(seqs(0).getAs[Int]("n_docs") == 2 && seqs(0).getAs[Int]("n_pad") == 0)
    // seq 1: doc2 continuation (off 0 — attention can't cross the seq
    // edge, so the continuation is a boundary) + doc3 (off 1) + 2 pads
    assert(seqs(1).getSeq[Int](1) == Seq(5, 6, 0, 0))
    assert(seqs(1).getSeq[Int](2) == Seq(0, 1))
    assert(seqs(1).getAs[Int]("n_docs") == 2 && seqs(1).getAs[Int]("n_pad") == 2)
  }

  test("packTokenIds: a doc spanning many sequences; empty/null ids contribute nothing") {
    val docs = Seq(
      (1L, Some(Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10))),
      (2L, Some(Seq.empty[Int])),
      (3L, None: Option[Seq[Int]]),
      (4L, Some(Seq(11)))).toDF("id", "ids")
    val seqs = Packing.packTokenIds(docs, "id", "ids", seqLen = 4, padId = -1)
      .orderBy("seq_id").collect()
    assert(seqs.length == 3)
    assert(seqs.map(_.getSeq[Int](1)).toSeq ==
      Seq(Seq(1, 2, 3, 4), Seq(5, 6, 7, 8), Seq(9, 10, 11, -1)))
    // mid-doc continuations are single-boundary sequences; doc 4 starts
    // at off 2 of the last sequence
    assert(seqs.map(_.getSeq[Int](2)).toSeq == Seq(Seq(0), Seq(0), Seq(0, 2)))
    assert(seqs.map(_.getAs[Int]("n_pad")).toSeq == Seq(0, 0, 1))
    // token conservation: all real ids appear once, in order
    val real = seqs.flatMap(r => r.getSeq[Int](1).filter(_ != -1))
    assert(real.toSeq == (1 to 11))
  }

  test("withCausalLabels: next-token ids with ignore past pads, ends, and doc boundaries") {
    val docs = Seq(
      (1L, Seq(1, 2, 3)), (2L, Seq(4, 5)), (3L, Seq(6)))
      .toDF("id", "ids")
    val seqs = Packing.withCausalLabels(
      Packing.packTokenIds(docs, "id", "ids", seqLen = 4, padId = 0))
      .orderBy("seq_id").collect()
    // seq 0 = [1,2,3,4], boundaries [0,3]: labels = [2, 3, -100 (next
    // starts doc2), -100 (sequence end)]
    assert(seqs(0).getSeq[Int](seqs(0).fieldIndex("labels")) == Seq(2, 3, -100, -100))
    // seq 1 = [5,6,0,0], boundaries [0,1]: labels = [-100 (next starts
    // doc3), -100 (next is pad), -100, -100]
    assert(seqs(1).getSeq[Int](seqs(1).fieldIndex("labels")) == Seq(-100, -100, -100, -100))
    // a doc spanning a boundary keeps predicting within itself
    val one = Packing.withCausalLabels(
      Packing.packTokenIds(Seq((1L, List(1, 2, 3, 4, 5, 6))).toDF("id", "ids"),
        "id", "ids", seqLen = 4, padId = 0)).orderBy("seq_id").collect()
    assert(one(0).getSeq[Int](one(0).fieldIndex("labels")) == Seq(2, 3, 4, -100))
    assert(one(1).getSeq[Int](one(1).fieldIndex("labels")) == Seq(6, -100, -100, -100))
  }

  test("packTokenIds == naive concat-and-chunk reference on random corpora (seeded)") {
    // naive reference: concat in id order (the separator after each
    // non-empty doc), chunk every L, pad last; boundaries = within-seq
    // starts of every slice
    def check(what: String, docs: Seq[(Long, Seq[Int])], L: Int, bw: Long,
        sep: Option[Int] = None): Unit = {
      val streams = docs.sortBy(_._1).map(_._2).filter(_.nonEmpty).map(_ ++ sep)
      val flat = streams.flatten
      val nSeq = (flat.length + L - 1) / L
      val expIds = (0 until nSeq).map(q =>
        flat.slice(q * L, (q + 1) * L).padTo(L, -7))
      val starts = streams.scanLeft(0)((acc, d) => acc + d.length).dropRight(1)
      val expOffs = (0 until nSeq).map { q =>
        val inSeq = starts.filter(s => s >= q * L && s < math.min((q + 1) * L, flat.length))
          .map(_ - q * L)
        (if (q * L < flat.length && !inSeq.contains(0) &&
          starts.exists(_ < q * L)) Seq(0) else Seq.empty) ++ inSeq
      }.map(_.sorted)
      val got = Packing.packTokenIds(docs.toDF("id", "ids"), "id", "ids",
        seqLen = L, padId = -7, bucketWidth = bw, sepId = sep)
        .orderBy("seq_id").collect()
      assert(got.length == nSeq, s"$what: ${got.length} != $nSeq")
      got.zipWithIndex.foreach { case (r, q) =>
        assert(r.getLong(0) == q, s"$what seq $q id")
        assert(r.getSeq[Int](1) == expIds(q), s"$what seq $q ids")
        assert(r.getSeq[Int](2) == expOffs(q), s"$what seq $q offsets " +
          s"(got ${r.getSeq[Int](2)}, want ${expOffs(q)})")
        assert(r.getAs[Int]("n_docs") == expOffs(q).length)
        assert(r.getAs[Int]("n_pad") == L - (flat.length - q * L).min(L), s"$what seq $q pad")
      }
    }
    val rnd = new scala.util.Random(1414L)
    (0 until 25).foreach { trial =>
      val nDocs = 1 + rnd.nextInt(12)
      val L = 1 + rnd.nextInt(9)
      val docs = (0 until nDocs).map { i =>
        (i.toLong, (0 until rnd.nextInt(3 * L)).map(_ => rnd.nextInt(1000)))
      }
      check(s"trial $trial", docs, L, 1 + rnd.nextInt(4))
    }
    // the edges of the cut, where a sequence meets a cell boundary
    // (bucketWidth 1: one document per cell)
    check("a sequence spanning six cells", (0L until 6L).map(i => (i, Seq(i.toInt, 50))), 11, 1)
    check("cells of one 1-id document", (0L until 7L).map(i => (i, Seq(100 + i.toInt))), 3, 1)
    check("a document longer than several seqLen",
      Seq((0L, Seq(1, 2)), (1L, (10 until 33).toSeq), (2L, Seq(3)), (3L, Seq(4, 5))), 4, 1)
    check("a long document inside a wide cell",
      Seq((0L, Seq(1, 2)), (1L, (10 until 33).toSeq), (2L, Seq(3))), 4, 3)
    check("cells ending on multiples of seqLen",
      Seq((0L, Seq(1, 2)), (1L, Seq(3, 4)), (2L, Seq(5, 6, 7, 8)), (4L, Seq(9)), (5L, Seq(10))), 4, 2)
    check("empty and gapped cells", Seq((0L, Seq(1)), (3L, Seq.empty[Int]), (9L, Seq(2, 3)),
      (10L, Seq(4)), (20L, Seq(5, 6, 7))), 3, 2)
    check("seqLen 1", Seq((0L, Seq(1, 2)), (1L, Seq(3)), (2L, Seq(4, 5, 6))), 1, 1)
    val sepDocs = (0L until 9L).map(i => (i, (0 until (i % 4).toInt).map(j => 10 * i.toInt + j)))
    Seq(1, 2, 3, 5, 8).foreach(L => Seq(1L, 2L, 4L).foreach(bw =>
      check(s"sepId, L=$L bw=$bw", sepDocs, L, bw, Some(-9))))
  }

  test("packTokenIds sepId arm == packing with the separator pre-appended; sep labels always ignore") {
    val rnd = new scala.util.Random(7777L)
    val SEP = -9
    (0 until 15).foreach { trial =>
      val L = 1 + rnd.nextInt(9)
      val docs = (0 until 1 + rnd.nextInt(12)).map(i =>
        (i.toLong, (0 until rnd.nextInt(3 * L)).map(_ => rnd.nextInt(1000))))
      // the separator contract stated directly: sepId packing IS the
      // packing of docs with one SEP appended to each non-empty ids
      // array (empty/NULL docs get none — they contribute nothing)
      val manual = docs.map { case (i, ids) =>
        (i, if (ids.nonEmpty) ids :+ SEP else ids)
      }
      def run(d: Seq[(Long, Seq[Int])], sep: Option[Int]) =
        Packing.packTokenIds(d.toDF("id", "ids"), "id", "ids", L,
          padId = -7, bucketWidth = 3, sepId = sep)
          .orderBy("seq_id").collect().map(r =>
            (r.getLong(0), r.getSeq[Int](1), r.getSeq[Int](2),
              r.getAs[Int]("n_docs"), r.getAs[Int]("n_pad"))).toSeq
      val got = run(docs, Some(SEP))
      assert(got == run(manual, None), s"trial $trial")
      // exactly one separator per non-empty doc in the packed stream
      val seps = got.flatMap(_._2).count(_ == SEP)
      assert(seps == docs.count(_._2.nonEmpty), s"trial $trial sep count")
      // a causal label AT a separator position is ALWAYS the ignore id
      // (next position is a doc boundary, a pad, or a sequence edge)
      Packing.withCausalLabels(
        Packing.packTokenIds(docs.toDF("id", "ids"), "id", "ids", L,
          padId = -7, sepId = Some(SEP))).collect().foreach { r =>
        val ids = r.getSeq[Int](r.fieldIndex("input_ids"))
        val labels = r.getSeq[Int](r.fieldIndex("labels"))
        ids.indices.filter(ids(_) == SEP).foreach(i =>
          assert(labels(i) == -100, s"trial $trial pos $i"))
      }
    }
  }

  test("assignShuffledShards: rank == md5-order reference, shard cut exact, bucket-width invariant") {
    val df = (0L until 500L).map(i => (i, s"p$i")).toDF("id", "payload")
    val got = Packing.assignShuffledShards(df, "id", ":sh", rowsPerShard = 32)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("rank"), r.getAs[Long]("shard_id")))).toMap
    // scala twin of the permutation: ascending (md5(id || salt) 12-hex
    // prefix, id)
    val expect = (0L until 500L).sortBy { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:sh".getBytes("UTF-8"))
      (md.map("%02x".format(_)).mkString.take(12), i)
    }.zipWithIndex.map { case (i, r) => i -> ((r.toLong, r.toLong / 32)) }.toMap
    assert(got == expect)
    // ranks are a permutation and shards are exactly 32-row cuts
    assert(got.values.map(_._1).toSeq.sorted == (0L until 500L))
    // the bucket protocol is an implementation detail: 1 vs 3 hex
    // digits (16 vs 4096 buckets) give identical ranks
    val one = Packing.assignShuffledShards(df, "id", ":sh", 32,
      bucketHexDigits = 1).collect().map(r => r.getLong(0) -> r.getAs[Long]("rank")).toMap
    val three = Packing.assignShuffledShards(df, "id", ":sh", 32,
      bucketHexDigits = 3).collect().map(r => r.getLong(0) -> r.getAs[Long]("rank")).toMap
    assert(one == got.map { case (k, v) => k -> v._1 } && one == three)
    // a different salt draws an independent permutation (not equal)
    val other = Packing.assignShuffledShards(df, "id", ":other", 32)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("rank")).toMap
    assert(other != one)
    // null ids fail loudly (the bucketedCumsum contract)
    val withNull = Seq((Some(1L), "a"), (None: Option[Long], "b"))
      .toDF("id", "payload")
    val e = intercept[IllegalArgumentException](
      Packing.assignShuffledShards(withNull, "id", ":sh", 2).count())
    assert(e.getMessage.contains("NULL"))
    // argument validation
    intercept[IllegalArgumentException](
      Packing.assignShuffledShards(df, "id", ":sh", 0))
  }

  test("withCausalLabels == scala reference on random packed corpora (seeded)") {
    val rnd = new scala.util.Random(2828L)
    (0 until 15).foreach { trial =>
      val L = 1 + rnd.nextInt(10)
      val docs = (0 until 1 + rnd.nextInt(10)).map(i =>
        (i.toLong, (0 until rnd.nextInt(3 * L)).map(_ => rnd.nextInt(900))))
      val rows = Packing.withCausalLabels(
        Packing.packTokenIds(docs.toDF("id", "ids"), "id", "ids", L, padId = -7))
        .collect()
      rows.foreach { r =>
        val ids = r.getSeq[Int](r.fieldIndex("input_ids"))
        val offs = r.getSeq[Int](r.fieldIndex("doc_offsets")).toSet
        val n = ids.length - r.getAs[Int]("n_pad")
        val expect = ids.indices.map(i =>
          if (i + 1 >= n || offs.contains(i + 1)) -100 else ids(i + 1))
        assert(r.getSeq[Int](r.fieldIndex("labels")) == expect,
          s"trial $trial seq ${r.get(0)}")
      }
    }
  }

  test("packTokenIds: argument validation and internal-name guards") {
    val docs = Seq((1L, Seq(1))).toDF("id", "ids")
    intercept[IllegalArgumentException](
      Packing.packTokenIds(docs, "id", "ids", seqLen = 0))
    intercept[IllegalArgumentException](
      Packing.packTokenIds(docs.withColumn("__w__", lit(1)), "id", "ids", 4))
  }
}
