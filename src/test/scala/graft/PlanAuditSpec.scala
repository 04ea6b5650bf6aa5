package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the plan properties the gate queries rely on:
  * column pruning into the parquet scan, filter pushdown, broadcast of
  * dimension tables. These are the properties that decide whether a
  * query that passes at sf0.01 still runs at 100 TB — lock them in a
  * spec so a refactor can't silently regress them. */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-audit")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect()
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan
  }

  /** Every node of a physical plan, through AQE wrappers and stages. */
  private def nodes(x: SparkPlan): Seq[SparkPlan] = x match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def planString(p: SparkPlan): String =
    nodes(p).map(_.verboseString(1000)).mkString("\n")

  /** The prefix-sum contract (Packing/Sampling): exactly `n`
    * PrefixSumExec; the exchange under each hash-partitions on exactly
    * `cellKeys` (the bucket included) — never a range or single
    * partition, which would be the global (or per-stratum) ordered
    * partition the bucketing exists to avoid; no unpartitioned Window
    * anywhere; no pair joins. */
  private def assertPrefixSums(p: SparkPlan, cellKeys: Seq[String], n: Int = 1): Unit = {
    val all = nodes(p)
    val sums = all.collect { case x: graft.plans.PrefixSumExec => x }
    assert(sums.length == n, s"expected $n PrefixSum exec(s):\n${planString(p)}")
    sums.foreach { x =>
      val ex = nodes(x.child).collectFirst { case e: ShuffleExchangeExec => e }
        .getOrElse(fail(s"no exchange under the prefix sum:\n${planString(p)}"))
      ex.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.map { case a: Attribute => a.name; case e => e.sql } == cellKeys,
            s"prefix-sum exchange not on the cells $cellKeys: $h")
        case other => fail(s"prefix-sum exchange is $other, not hash on the cells")
      }
    }
    all.collect { case w: WindowExec => w }.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned (global) window: $w"))
    assert(!all.exists(x => x.isInstanceOf[CartesianProductExec] ||
      x.isInstanceOf[BroadcastNestedLoopJoinExec]), s"pair enumeration in:\n${planString(p)}")
  }

  test("q1_agg scan is pruned to exactly the referenced lineitem columns") {
    val s = planString(executed(SparkEntry.queries("q1_agg")(spark, dir)))
    val scanLine = s.linesIterator.find(l => l.contains("FileScan") || l.contains("Scan parquet"))
      .getOrElse(fail(s"no parquet scan in plan:\n$s"))
    // the 5 referenced columns and nothing else wide
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      .foreach(c => assert(scanLine.contains(c), s"column $c missing from scan: $scanLine"))
    Seq("l_comment", "l_shipdate", "l_orderkey")
      .foreach(c => assert(!scanLine.contains(c), s"unreferenced column $c read by scan: $scanLine"))
  }

  test("filter queries push predicates into the parquet scan") {
    val s = planString(executed(SparkEntry.queries("q_filter_map")(spark, dir)))
    assert(s.contains("PushedFilters: ["), s"no pushed filters in:\n$s")
    assert(!s.contains("PushedFilters: []"), s"empty pushed filters in:\n$s")
  }

  test("q5_join_agg broadcasts the dimension tables") {
    val s = planString(executed(SparkEntry.queries("q5_join_agg")(spark, dir)))
    val broadcasts = s.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 3, s"expected >=3 broadcast joins (customer/nation/region), got $broadcasts:\n$s")
  }

  test("q_simsearch_quant: queries broadcast, one corpus scan, no pre-rank shuffle of codes") {
    // the int8 scan path: scan -> BroadcastNestedLoopJoin (queries are
    // the broadcast side by construction) -> window on the tiny
    // query-id key space. A SortMergeJoin or a shuffle of the code
    // table before scoring would mean the 100 TB scan shape regressed.
    val s = planString(executed(SparkEntry.queries("q_simsearch_quant")(spark, dir)))
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast NLJ of the query side:\n$s")
    assert(!s.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$s")
    assert(!s.contains("CartesianProduct"), s"unbroadcast cartesian:\n$s")
  }

  test("q_project_rp: projection is a pure pruned-scan projection — no shuffle below the sort") {
    val s = planString(executed(SparkEntry.queries("q_project_rp")(spark, dir)))
    // exactly the one exchange feeding the global ORDER BY; the
    // plane_project pass itself must not induce any other shuffle
    val exchanges = s.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges <= 1, s"projection should add no shuffle beyond the sort:\n$s")
    val scanLine = s.linesIterator.find(l => l.contains("FileScan") || l.contains("Scan parquet"))
      .getOrElse(fail(s"no parquet scan in plan:\n$s"))
    assert(scanLine.contains("embedding") && scanLine.contains("vec_id"),
      s"scan must read only (vec_id, embedding): $scanLine")
  }

  test("q_setops folds the three set-op counts into one job") {
    // the r10-verdict plan-hygiene fix: building the query frame must
    // run ZERO actions (the old shape drove three .count() actions
    // from the driver during construction), and the whole summary row
    // must come from ONE SQL execution (AQE may split one action into
    // several scheduler jobs — the SQL-execution count is the "three
    // entries in the SQL UI" the verdict flagged)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          jobs.incrementAndGet()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    // listener events arrive asynchronously — poll until the count
    // stops moving (two consecutive quiet reads) before asserting
    def settled(): Int = {
      var prev = -1
      var cur = jobs.get()
      var spins = 0
      while (cur != prev && spins < 100) {
        prev = cur; Thread.sleep(100); cur = jobs.get(); spins += 1
      }
      cur
    }
    try {
      val df = SparkEntry.queries("q_setops")(spark, dir)
      assert(settled() == 0,
        s"q_setops ran ${jobs.get()} SQL executions during plan " +
          "CONSTRUCTION — the frame must be lazy")
      val row = df.collect().head
      assert(settled() == 1,
        s"q_setops ran ${jobs.get()} SQL executions for one summary row")
      // sanity: the single plan still computes all three cardinalities
      assert(row.getLong(1) >= row.getLong(2)) // union >= intersect
    } finally sc.removeSparkListener(listener)
  }

  test("q_decontaminate joins stay hash-based — no pair enumeration anywhere") {
    val s = planString(executed(SparkEntry.queries("q_decontaminate")(spark, dir)))
    // the corpus side must reach the eval grams via semi-join and fold
    // back via anti-join; a nested-loop/cartesian here would be the
    // O(train × eval) plan this operator exists to avoid
    assert(!s.contains("CartesianProduct"), s"cartesian product in:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$s")
    assert(s.contains("LeftSemi"), s"no semi join in:\n$s")
    assert(s.contains("LeftAnti"), s"no anti join in:\n$s")
    // the eval gram set must be the BROADCAST side of the semi-join —
    // a shuffle here would move the whole corpus gram stream
    assert(s.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"eval grams not broadcast:\n$s")
  }

  test("q_decontaminate_bloom verifies behind the prefilter — no pair enumeration, anti-join broadcast") {
    val s = planString(executed(SparkEntry.queries("q_decontaminate_bloom")(spark, dir)))
    assert(!s.contains("CartesianProduct"), s"cartesian product in:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$s")
    // the bloom probe must gate the verify: the semi-join's corpus side
    // carries the gram_bloom_overlap filter, so only flagged docs'
    // grams are exploded into it
    assert(s.contains("gram_bloom_overlap"), s"bloom prefilter missing from plan:\n$s")
    assert(s.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"eval grams not broadcast in verify:\n$s")
    // the contamination-sized tainted set folds back via broadcast anti
    assert(s.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"tainted ids not broadcast in anti-join:\n$s")
  }

  test("q_dedup_catalog verifies behind the bloom prefilter with hash joins only") {
    val s = planString(executed(SparkEntry.queries("q_dedup_catalog")(spark, dir)))
    assert(!s.contains("CartesianProduct"), s"cartesian product in:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$s")
    // the catalog probe must be the codegen'd bloom scalar, gating the
    // exact fingerprint semi-join so only flagged docs reach it
    assert(s.contains("bloom_might_contain"), s"bloom prefilter missing from plan:\n$s")
    assert(s.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"catalog fingerprints not broadcast in verify:\n$s")
    assert(s.contains("LeftAnti"), s"no anti-join fold-back in:\n$s")
  }

  test("q_dedup_spans stays equi-join shaped; the gram pass never sinks into the scan") {
    val s = planString(executed(SparkEntry.queries("q_dedup_spans")(spark, dir)))
    // occurrence-level census: hash joins only — a nested loop here
    // would be O(occurrences^2) at corpus scale
    assert(!s.contains("CartesianProduct"), s"cartesian product in:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$s")
    // the native positional-gram pass must run in the projection that
    // materializes it, ONCE per occurrence subtree — the non-outer
    // posexplode regression puts an inferred size() filter (and the
    // whole gram pass with it) into the scan's data filters
    val scanLines = s.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scanLines.nonEmpty, s"no parquet scan in:\n$s")
    scanLines.foreach(l => assert(!l.contains("word_ngram_hash_seq"),
      s"gram pass re-evaluated inside the scan filter: $l"))
    // span merging happens in one fold over collected starts — never a
    // per-document window sort over the corpus
    assert(!s.contains("Window"), s"window operator in:\n$s")
  }

  test("sharedShingleEdges plans as equi-join + capped aggregate") {
    // audit the LAZY form — the gate query materializes the edge set
    // eagerly, so its final executed plan no longer contains the build
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val s = planString(executed(graft.ops.Dedup.sharedShingleEdges(
      docs, "doc_id", "text", materialize = false)))
    assert(!s.contains("CartesianProduct"), s"cartesian product in:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$s")
    // gram-frequency cap is a hash aggregate + semi-join, never a
    // window sort or a collected id list
    assert(!s.contains("Window"), s"window in edge build:\n$s")
    assert(s.contains("LeftSemi"), s"no capping semi join in:\n$s")
    assert(!s.contains("collect_"), s"collected id list in edge build:\n$s")
  }

  test("q_sample_stratified uses bounded top-k buffers, not a window sort") {
    val s = planString(executed(SparkEntry.queries("q_sample_stratified")(spark, dir)))
    // the whole point of riding Aggregators.groupTopK: per-stratum
    // selection must be a partial-combine aggregate, never a Window
    // (which sorts every stratum of the corpus)
    assert(!s.contains("Window"), s"window sort in stratified sample:\n$s")
    assert(s.linesIterator.exists(l => l.contains("Aggregate") && l.contains("partial")),
      s"no partial aggregate in:\n$s")
  }

  test("q_pack's prefix sum windows are bucket-partitioned, never global") {
    // one global ordered partition pulls the whole corpus into one
    // task — the exact bottleneck Packing.globalCumsum exists to
    // avoid; the prefix sum's cells ("windows") are the buckets
    assertPrefixSums(executed(SparkEntry.queries("q_pack")(spark, dir)), Seq("__b__"))
  }

  test("q_sample_budget's prefix sum windows are (stratum, bucket)-partitioned, never per-stratum") {
    // one partition per stratum would hold most of a real mixture's
    // corpus in one task; the prefix sum's cells must also carry the
    // hash bucket
    assertPrefixSums(executed(SparkEntry.queries("q_sample_budget")(spark, dir)),
      Seq("lang", "__b__"))
  }

  test("q_domain_stats prunes the scan and never enumerates pairs") {
    val s = planString(executed(SparkEntry.queries("q_domain_stats")(spark, dir)))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"pair enumeration in:\n$s")
    val scanLine = s.linesIterator.find(l => l.contains("FileScan") || l.contains("Scan parquet"))
      .getOrElse(fail(s"no parquet scan in plan:\n$s"))
    // the url is synthesized from doc_id; only doc_id and the weight
    // column should be read
    assert(!scanLine.contains("text"), s"text read by scan: $scanLine")
  }

  // An input that is ALREADY parallel, with no Exchange of its own:
  // Range with explicit slices ≥ the session's shuffle.partitions (4),
  // so Par.spreadNarrow must not fire. ~100 tokens per doc → several
  // chunks per doc under the budgets below.
  private def wideDocs(n: Int) =
    spark.range(0, n, 1, 4).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(100)),
        i => concat(lit("tok"), i.cast("string")))).as("text"))

  test("q_chunk on a parallel input plans as pure projection + generate — no shuffle") {
    // the 100 TB contract: chunking is pure per-row work, and an input
    // whose scan is already parallel must NOT pay a corpus shuffle
    // (r22 — the spread is conditional, see Par.spreadNarrow)
    val df = ops.TextOps.chunkDocuments(
      wideDocs(200), "doc_id", "text",
      maxTokens = 64, overlap = 16) // audit the op, not the gate's ORDER BY
    val s = planString(executed(df))
    assert(s.contains("Generate"), s"no generate in plan:\n$s")
    assert(!s.contains("Exchange"), s"chunking must not shuffle a parallel input:\n$s")
    // the chunk array must be materialized BELOW the generator (bare
    // attribute child), not rebuilt per emitted row
    val genLine = s.linesIterator.find(_.trim.startsWith("Generate"))
      .getOrElse(fail(s"no Generate line:\n$s"))
    assert(!genLine.contains("transform("),
      s"generator child re-evaluates the chunk transform per output row: $genLine")
  }

  test("q_chunk on a single-task input gets exactly one pinned work-spread exchange") {
    // the bench-scale arm of the conditional: a one-row-group parquet
    // file plans as ONE scan task (row groups are the atomic split
    // unit — maxPartitionBytes cannot split them), so the heavy
    // chunk projection must be spread by an explicit-count keyed
    // repartition (exempt from AQE byte coalescing)
    val df = ops.TextOps.chunkDocuments(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      maxTokens = 64, overlap = 16)
    val s = planString(executed(df))
    val exchanges = s.linesIterator.filter(_.trim.startsWith("Exchange")).toSeq
    assert(exchanges.size == 1, s"expected exactly one exchange:\n$s")
    assert(exchanges.head.contains("REPARTITION_BY_NUM"),
      s"the spread must pin an explicit partition count: ${exchanges.head}")
  }

  test("q_avro_roundtrip spreads a single-task orders scan and leaves a parallel one unshuffled") {
    // the avro gate's write input goes through Par.spreadNarrow, and
    // the staged write emits one part file per input partition, so the
    // part count shows which arm ran: a narrow scan becomes exactly the
    // pinned count (4 here); a parallel scan keeps its own count
    def parts(ordersDir: String): Int = {
      val back = SparkEntry.queries("q_avro_roundtrip")(spark, ordersDir)
      assert(back.count() == Tables.load(spark, ordersDir, "orders").count())
      new java.io.File(SparkEntry.avroGateOut(ordersDir)).listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".avro"))
    }
    val narrow = Tables.load(spark, dir, "orders").rdd.getNumPartitions
    assert(narrow == 1, s"the sf0.001 orders scan should plan one task, got $narrow")
    assert(parts(dir) == 4, "a single-task scan must be spread to the pinned count")
    val wideDir = java.nio.file.Files.createTempDirectory("graft-audit-avro").toString
    try {
      Tables.load(spark, dir, "orders").repartition(6).write.parquet(s"$wideDir/orders.parquet")
      val wide = Tables.load(spark, wideDir, "orders").rdd.getNumPartitions
      assert(wide >= 2 && wide != 4, s"the wide arm needs 2+ scan tasks other than 4, got $wide")
      assert(parts(wideDir) == wide, "a parallel scan must be written without a repartition")
    } finally {
      // the narrow arm's output is the gate's own per-(pid, sf) dir,
      // reused by every later run of it; the wide arm's is this test's
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wideDir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(SparkEntry.avroGateOut(wideDir)).getParentFile)
    }
  }

  test("gopherDupNgramSignals plans as one pruned-scan projection — no shuffle, one expression") {
    val df = ops.TextOps.gopherDupNgramSignals(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val s = planString(executed(df))
    assert(!s.contains("Exchange"), s"dup-coverage must not shuffle:\n$s")
    assert(!s.contains("Generate"), s"dup-coverage must not explode:\n$s")
    assert(!s.contains("Aggregate"), s"dup-coverage must not aggregate:\n$s")
    // all six per-n columns read ONE shared expression: exactly one
    // dup_ngram_char_fracs evaluation survives in the physical plan
    assert(s.sliding("dup_ngram_char_fracs".length).count(
      _ == "dup_ngram_char_fracs") == 1,
      s"the shared fracs array must be computed once:\n$s")
    // and the scan reads only the two referenced columns
    val scanLine = s.linesIterator.find(l => l.contains("FileScan") || l.contains("Scan parquet"))
      .getOrElse(fail(s"no parquet scan in plan:\n$s"))
    assert(!scanLine.contains("lang") && !scanLine.contains("n_chars"),
      s"unreferenced columns read by scan: $scanLine")
  }

  test("chunkByTokenCount on a parallel input plans as pure projection + generate — no shuffle") {
    // same conditional-spread contract as q_chunk (r22): a parallel
    // input must not shuffle; the narrow-input arm is covered by the
    // q_chunk spread test above (both chunkers share Par.spreadNarrow)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m = ops.Bpe.train(docs.limit(50), "text", numMerges = 10, minPairCount = 2)
    val bc = ops.Bpe.broadcastModel(spark, m)
    val df = ops.Bpe.chunkByTokenCount(wideDocs(200), "doc_id", "text",
      maxTokens = 24, bc) // audit the op, not the gate's ORDER BY
    val s = planString(executed(df))
    assert(s.contains("Generate"), s"no generate in plan:\n$s")
    assert(!s.contains("Exchange"), s"chunking must not shuffle a parallel input:\n$s")
    val genLine = s.linesIterator.find(_.trim.startsWith("Generate"))
      .getOrElse(fail(s"no Generate line:\n$s"))
    assert(!genLine.contains("transform("),
      s"generator child re-evaluates the chunk build per output row: $genLine")
  }

  test("packTokenIds: ONE payload shuffle (the seq regroup), bucket-partitioned cumsum windows, no pair joins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m = ops.Bpe.train(docs.limit(50), "text", numMerges = 10, minPairCount = 2)
    val bc = ops.Bpe.broadcastModel(spark, m)
    val df = ops.Packing.packTokenIds(
      ops.Bpe.withTokenIds(docs, "text", "__tids__", bc),
      "doc_id", "__tids__", seqLen = 256, padId = 0)
    val p = executed(df)
    val s = planString(p)
    // the prefix sum must stay per-bucket (never one global ordered
    // partition), and no pair joins
    assertPrefixSums(p, Seq("__b__"))
    // the sequences are cut inside the prefix sum: its hash exchange on
    // the cells is the only payload movement — no seq_id regroup, no
    // collect_list aggregate
    val exchanges = nodes(p).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1, s"expected exactly one exchange:\n$s")
    assert(s.linesIterator.count(_.trim.startsWith("Exchange")) == 1 &&
      s.linesIterator.filter(_.trim.startsWith("Exchange")).forall(_.contains("hashpartitioning")),
      s"unexpected exchange shape (range/single-partition would be the global-window bottleneck):\n$s")
    assert(!nodes(p).exists(_.isInstanceOf[ObjectHashAggregateExec]) &&
      !s.contains("collect_list"), s"a regroup aggregate in:\n$s")
  }

  test("assignShuffledShards: the permutation never plans a global sort — bucket windows + broadcast offsets") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = ops.Packing.assignShuffledShards(
      docs.select("doc_id", "lang"), "doc_id", ":pa", rowsPerShard = 64)
    val p = executed(df)
    val s = planString(p)
    // the rank is a per-bucket prefix count (hash-prefix buckets, the
    // offsets broadcast to the tasks), never one global ordered partition
    assertPrefixSums(p, Seq("__b__"))
    // a rangepartitioning exchange would BE the global sort this op
    // exists to avoid; singlepartition would be the same bottleneck
    val exchanges = s.linesIterator.filter(_.trim.startsWith("Exchange")).toSeq
    assert(exchanges.forall(_.contains("hashpartitioning")),
      s"global-sort-shaped exchange in:\n$s")
  }

  test("q_sample_budget_bpe keeps the bucket-partitioned windows under the real-token weight") {
    // the (stratum, bucket) cells of the prefix sum ("windows") hold
    // under the BPE weight too
    assertPrefixSums(executed(SparkEntry.queries("q_sample_budget_bpe")(spark, dir)),
      Seq("lang", "__b__"))
  }

  test("q_mixture_order ranks via (stratum, bucket) windows with broadcast offsets") {
    // the rank is a prefix count over (stratum, bucket) cells
    // ("windows"); the per-cell offsets reach the tasks as a broadcast
    assertPrefixSums(executed(SparkEntry.queries("q_mixture_order")(spark, dir)),
      Seq("lang", "__b__"))
  }

  test("q_warc_linkage stays equi-join shaped — no nested loop, no cartesian") {
    val s = planString(executed(SparkEntry.queries("q_warc_linkage")(spark, dir)))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"linkage must stay hash/merge-joined:\n$s")
    // the key-set explode runs on SLIM id projections, never on the
    // payload-carrying rows: no Generate may carry the payload column
    val genLines = s.linesIterator.filter(_.trim.startsWith("Generate")).toSeq
    assert(genLines.nonEmpty, s"expected the key-set explode:\n$s")
    genLines.foreach(l =>
      assert(!l.contains("payload"),
        s"key-set explode carries fat payload rows: $l"))
  }

  test("q_boilerplate joins stay hash-based with doc-bounded aggregation") {
    val s = planString(executed(SparkEntry.queries("q_boilerplate")(spark, dir)))
    // line-frequency count and per-doc rebuild are hash aggregates;
    // boilerplate keys fold back via anti-join — a nested-loop or
    // cartesian would enumerate line pairs
    assert(!s.contains("CartesianProduct"), s"cartesian product in:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$s")
    assert(s.contains("LeftAnti"), s"no anti join in:\n$s")
    assert(s.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("count(")),
      s"no hash-aggregate line count in:\n$s")
  }

  test("q_gopher_quality plans as a pure pruned-scan projection — no shuffle") {
    val df = Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        ops.TextOps.gopherSignals(org.apache.spark.sql.functions.col("text")).as("g"))
    val s = planString(executed(df)) // audit the op, not the gate's ORDER BY
    assert(!s.contains("Exchange"), s"gopher signals must not shuffle:\n$s")
    val scanLine = s.linesIterator.find(l => l.contains("FileScan") || l.contains("Scan parquet"))
      .getOrElse(fail(s"no parquet scan in plan:\n$s"))
    assert(!scanLine.contains("lang") && !scanLine.contains("source"),
      s"unreferenced columns read by scan: $scanLine")
  }

  test("q_sample_mixture is a scan-time filter — no shuffle, no aggregate") {
    val df = ops.Sampling.sampleByStratum(
      Tables.load(spark, dir, "documents"),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("lang"),
      Seq("en" -> 0.5), defaultFraction = 0.125, salt = ":a")
    val s = planString(executed(df))
    assert(!s.contains("Exchange"), s"mixture sampling must not shuffle:\n$s")
    assert(!s.contains("HashAggregate"), s"mixture sampling must not aggregate:\n$s")
  }

  test("cross-corpus and semantic dedup never enumerate pairs outside buckets/cells") {
    // both ops materialize their candidate set internally
    // (Materialize.eager), which hides the banding / cell joins from the
    // returned frame's executed plan — so capture EVERY execution
    // during the calls via a listener and audit the union
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val docs = Tables.load(spark, dir, "documents")
      graft.ops.Dedup.crossCorpusNearDups(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 5, numHashes = 64, bands = 8,
        threshold = 0.8, charShingles = true).count()
      graft.ops.Dedup.semanticNearDupsFixedCells(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nCells = 4, replication = 2).count()
      // listener delivery is async: wait until the captured set has
      // been stable for 1s (15s deadline)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = -1
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
        (plans.size() != last || System.nanoTime() - stableSince < 1000L * 1000 * 1000)) {
        if (plans.size() != last) { last = plans.size(); stableSince = System.nanoTime() }
        Thread.sleep(50)
      }
    } finally spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, "listener captured no executions")
    plans.forEach { p =>
      assert(!p.contains("CartesianProduct"), s"cartesian product in:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$p")
    }
  }

  test("q_bucketed_join joins with zero exchanges below the sort-merge join") {
    // the gate query's whole point: both scan sides report the bucketed
    // HashPartitioning, so the SMJ consumes them exchange-free — the
    // only shuffles in the plan belong to the aggregation/sort ABOVE
    // the join. A regression here (bucket spec lost, mismatched
    // numBuckets, a planner change disabling bucketed scans) would
    // re-shuffle the 100 TB fact table on every join.
    def unwrap(x: SparkPlan): SparkPlan = x match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    def findSmj(x: SparkPlan): Option[SparkPlan] = {
      val cur = x match {
        case a: AdaptiveSparkPlanExec => return findSmj(a.executedPlan)
        case q: QueryStageExec => return findSmj(q.plan)
        case other => other
      }
      if (cur.nodeName.contains("SortMergeJoin")) Some(cur)
      else cur.children.flatMap(findSmj).headOption
    }
    def countShuffles(x: SparkPlan): Int = x match {
      case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
      case q: QueryStageExec => countShuffles(q.plan)
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        1 + s.children.map(countShuffles).sum
      case other => other.children.map(countShuffles).sum
    }
    val df = SparkEntry.queries("q_bucketed_join")(spark, dir)
    df.collect()
    val plan = unwrap(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan)
    val smj = findSmj(plan).getOrElse(
      fail(s"no SortMergeJoin in q_bucketed_join plan:\n${planString(plan)}"))
    assert(countShuffles(smj) == 0,
      s"bucketed join subtree contains a shuffle:\n${planString(smj)}")
  }

  test("q_session plans one grouping shuffle with partial session aggregation") {
    val s = planString(executed(SparkEntry.queries("q_session")(spark, dir)))
    // sort-merge session aggregation: partial HashAggregate below ONE
    // exchange on the group key, MergingSessions above it, plus only the
    // final ORDER BY's range exchange — a second grouping shuffle here
    // would double the dominant cost at corpus scale
    assert(s.contains("MergingSessions"), s"no MergingSessions operator:\n$s")
    val exchanges = s.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly 1 hash exchange (group key), got $exchanges:\n$s")
  }

  test("broadcast screens plan as a bare filtered scan — no join, no exchange, codegen'd") {
    // the stateless-screen contract: with the catalog broadcast, the
    // corpus side is ONE pruned scan + codegen'd filter — nothing else.
    // This is what makes the same op legal in a streaming plan.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bc = ops.Dedup.broadcastEmbeddingScreen(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 5 === 0),
      "vec_id", "embedding", banded = false)
    val s = planString(executed(
      ops.Dedup.screenEmbeddings(
        emb.filter(org.apache.spark.sql.functions.col("vec_id") % 5 =!= 0),
        "embedding", bc, 0.35)))
    assert(!s.contains("Join"), s"screen must not join:\n$s")
    assert(!s.contains("Exchange"), s"screen must not shuffle:\n$s")
    assert(s.contains("WholeStageCodegen"), s"screen filter left codegen:\n$s")
    // and the signature screen: same shape
    import spark.implicits._
    val sigs = (0L until 100L).map(i =>
      (i, Seq.tabulate(64)(b => ((i >> (b % 8)) & 1).toInt))).toDF("id", "sig")
    val sbc = ops.Dedup.broadcastSignatureScreen(sigs, "sig", bands = 8)
    val s2 = planString(executed(
      ops.Dedup.screenSignatures(sigs, "sig", sbc, 5)))
    assert(!s2.contains("Join") && !s2.contains("Exchange"),
      s"signature screen must be a bare filter:\n$s2")
  }

  test("the streaming screen plans with NO stateful operator") {
    // q_stream_embedding's scale contract: the screen adds no state
    // store — the streaming plan is scan + filter + project only
    import org.apache.spark.sql.functions._
    val batch = Tables.load(spark, dir, "embeddings")
    val bc = ops.Dedup.broadcastEmbeddingScreen(
      batch.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
      banded = false)
    val stream = spark.readStream.schema(batch.schema)
      .parquet(s"$dir/embeddings*.parquet")
    val screened = graft.streaming.Streams.dedupEmbeddingsAgainst(
      stream.filter(col("vec_id") % 5 =!= 0), "embedding", bc, 0.35)
    val name = "plan_audit_stream_screen"
    val q = screened.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain(extended = true) }
      val plan = buf.toString
      assert(plan.nonEmpty, "no streaming plan captured")
      assert(!plan.contains("StateStore"),
        s"stateless screen planned a state store:\n$plan")
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }
}
