package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The pair operators count their own populations: each puts a named
  * `observe` on the count aggregate it builds anyway, and a
  * QueryExecutionListener reads the counters from `qe.observedMetrics`
  * of the execution that did the work. Every counter is checked
  * against a brute-force count over the collected bucket, gram or cell
  * keys, and the number of jobs each operator runs per call is pinned.
  */
class OccupancyObservationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-occupancy-observation")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** What one probed call did: its result (or what it threw), the jobs
    * it started, and every execution's observed metrics, in order. */
  private case class Probe[A](
      result: Either[Throwable, A], jobs: Int,
      events: Seq[Map[String, Row]]) {
    /** The last value posted under `name` (a cached count frame posts
      * the same value again each time a later execution reads it). */
    def metric(name: String): Row =
      events.reverseIterator.flatMap(_.get(name)).nextOption()
        .getOrElse(fail(s"no observation named $name in ${events.map(_.keySet)}"))
    def names: Set[String] = events.flatMap(_.keySet).toSet
  }

  /** Runs `body` in its own job group with a job listener and a
    * QueryExecutionListener attached, and waits until both have seen
    * every event of `body`. */
  private def probe[A](body: => A): Probe[A] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val events = new ConcurrentLinkedQueue[Map[String, Row]]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val executions = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.observedMetrics.nonEmpty) events.add(qe.observedMetrics)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(executions)
    try {
      sc.setJobGroup("probe", "operator under audit")
      val result = try Right(body) catch { case e: Throwable => Left(e) }
      finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark)
      Probe(result, groups.asScala.count(_ == "probe"), events.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(executions)
      sc.removeSparkListener(jobs)
    }
  }

  // ---- brute force over collected keys

  /** The occupancy counters of groups given as (size, whether it could
    * form pairs at all, the pairs it forms). */
  private def occupancy(groups: Seq[(Long, Boolean, Long)], cap: Int): Map[String, Long] = {
    val pairable = groups.filter { case (n, ok, _) => ok && n >= 2 && n <= cap }
    val capped = groups.filter { case (n, ok, _) => ok && n > cap }
    Map(
      "rows" -> groups.map(_._1).sum,
      "groups" -> groups.size.toLong,
      "max_group" -> (if (groups.isEmpty) 0L else groups.map(_._1).max),
      "pairable" -> pairable.size.toLong,
      "capped" -> capped.size.toLong,
      "capped_rows" -> capped.map(_._1).sum,
      "pairs" -> pairable.map(_._3).sum,
      "capped_pairs" -> capped.map(_._3).sum)
  }

  private def selfGroups(keys: Seq[Any]): Seq[(Long, Boolean, Long)] =
    keys.groupBy(identity).values.map { g =>
      val n = g.size.toLong; (n, true, n * (n - 1) / 2)
    }.toSeq

  private def assertObserved(row: Row, expected: Map[String, Long]): Unit =
    expected.foreach { case (field, v) =>
      assert(row.getAs[Long](field) == v, s"$field: observed ${row.getAs[Long](field)}, counted $v")
    }

  /** Pairs id1 < id2 sharing a pairable group, deduplicated. */
  private def selfPairs(members: Seq[(Any, Long)], cap: Int): Set[(Long, Long)] =
    members.groupBy(_._1).values.map(_.map(_._2)).filter(g => g.size >= 2 && g.size <= cap)
      .flatMap(g => for (a <- g; b <- g if a < b) yield (a, b)).toSet

  // ---- corpora (seeded)

  /** Signatures over a 3-symbol alphabet: 4 bands of 2 rows give 9
    * buckets per band, which stay under a cap of 40 at 300 rows; every
    * fourth row is all zeros, which fills one bucket per band past it. */
  private def sigs(n: Int, seed: Int, idBase: Long = 0L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (idBase + i, if (i % 4 == 0) Seq.fill(8)(0) else Seq.fill(8)(rnd.nextInt(3)))
    }.toDF("__id__", "__sig__")
  }

  private def bandKeys(s: DataFrame, bands: Int, r: Int): Seq[((Int, Int), Long)] =
    LshBlocking.bandRows(s, bands, r, "__sig__").select("band", "bucket", "__id__")
      .collect().toSeq.map(x => ((x.getInt(0), x.getInt(1)), x.getLong(2)))

  /** Words from a 5-word vocabulary, whose 3-grams stay under a 30-doc
    * cap at 120 documents; every third document opens with a shared
    * header, whose 3-gram passes it. */
  private def docs(n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps")
    (0 until n).map { i =>
      val body = Seq.fill(8)(vocab(rnd.nextInt(5))).mkString(" ")
      (i.toLong, if (i % 3 == 0) s"shared page header $body" else body)
    }.toDF("id", "text")
  }

  /** Three tight clusters of 4-d vectors, 40 each. */
  private def vecs(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 1.0))
    (0 until 120).map { i =>
      (i.toLong, centers(i % 3).map(_ + rnd.nextGaussian() * 0.05))
    }.toDF("vec_id", "embedding")
  }

  /** A chain, a star and random edges over 60 nodes. */
  private def edges(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0L until 9L).map(i => (i, i + 1)) ++ (21L to 29L).map(i => (20L, i)) ++
      Seq.fill(25)((30L + rnd.nextInt(30), 30L + rnd.nextInt(30)))
  }

  /** Star contraction on the driver: the edge count after each round
    * until a round changes nothing (Graph.connectedComponents' loop). */
  private def starRounds(in: Seq[(Long, Long)]): Seq[Long] = {
    def norm(es: Iterable[(Long, Long)]): Set[(Long, Long)] =
      es.filter { case (u, v) => u != v }.map { case (u, v) => (u max v, u min v) }.toSet
    def largeStar(e: Set[(Long, Long)]): Set[(Long, Long)] = {
      val un = e ++ e.map(_.swap)
      val m = un.groupBy(_._1).map { case (u, vs) => u -> (u min vs.map(_._2).min) }
      un.collect { case (u, v) if v > u => (v, m(u)) }.filter { case (u, v) => u != v }
    }
    def smallStar(e: Set[(Long, Long)]): Set[(Long, Long)] = {
      val m = e.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).min }
      norm(e.map { case (u, v) => (v, m(u)) } ++ m.toSeq)
    }
    var e = norm(in)
    val counts = Seq.newBuilder[Long]
    var done = false
    while (!done) {
      val next = smallStar(largeStar(e))
      counts += next.size.toLong
      done = next == e
      e = next
    }
    counts.result()
  }

  // ---- the five operators, their corpora and their calls

  private def lshCall(s: DataFrame): DataFrame =
    LshBlocking.candidatePairs(s, bands = 4, rowsPerBand = 2, maxBucket = 40)

  private def crossCall(a: DataFrame, b: DataFrame): DataFrame =
    LshBlocking.crossCandidatePairs(a, b, bands = 4, rowsPerBand = 2, maxBucket = 40)

  private def shingleCall(d: DataFrame): DataFrame =
    Dedup.sharedShingleEdges(d, "id", "text", shingleN = 3, maxDocsPerGram = 30)

  private def semanticCall(v: DataFrame): DataFrame =
    Dedup.semanticNearDupsFixedCells(v, "vec_id", "embedding",
      threshold = 0.99, nCells = 4, replication = 2, maxCell = 70)

  private def ccCall(e: Seq[(Long, Long)]): DataFrame =
    Graph.connectedComponents(e.toDF("src", "dst"), "src", "dst", maxDriverEdges = 0)

  test("candidatePairs observes its bucket occupancy and its pair count") {
    val s = sigs(300, seed = 11)
    val p = probe(lshCall(s).count())
    val keys = bandKeys(s, 4, 2)
    assertObserved(p.metric("graft.lsh.buckets"), occupancy(selfGroups(keys.map(_._1)), 40))
    val pairs = selfPairs(keys, 40).size.toLong
    assert(p.result == Right(pairs))
    assertObserved(p.metric("graft.lsh.pairs"), Map("rows" -> pairs))
    assert(p.metric("graft.lsh.buckets").getAs[Long]("capped") > 0, "corpus must exercise the cap")
  }

  test("crossCandidatePairs observes cross-side occupancy, the reference rows and its pairs") {
    val a = sigs(200, seed = 21)
    val b = sigs(100, seed = 22, idBase = 1000L)
    val p = probe(crossCall(a, b).count())
    val ka = bandKeys(a, 4, 2)
    val kb = bandKeys(b, 4, 2)
    val nb = kb.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    val groups = (ka ++ kb).groupBy(_._1).map { case (k, g) =>
      val n = g.size.toLong
      val bn = nb.getOrElse(k, 0L)
      (n, bn >= 1 && bn < n, (n - bn) * bn)
    }.toSeq
    val row = p.metric("graft.lsh_cross.buckets")
    assertObserved(row, occupancy(groups, 40) + ("b_rows" -> kb.size.toLong))
    assert(row.getAs[Long]("capped") > 0 && row.getAs[Long]("pairable") > 0)
    val bSide = kb.groupBy(_._1).map { case (k, g) => k -> g.map(_._2) }
    val pairs = ka.groupBy(_._1).toSeq.flatMap { case (k, g) =>
      val n = g.size + bSide.get(k).fold(0)(_.size)
      if (bSide.contains(k) && n <= 40) for (x <- g.map(_._2); y <- bSide(k)) yield (x, y)
      else Nil
    }.toSet.size.toLong
    assert(p.result == Right(pairs))
    assertObserved(p.metric("graft.lsh_cross.pairs"), Map("rows" -> pairs))
  }

  test("sharedShingleEdges observes its gram occupancy and its edge count") {
    val d = docs(120, seed = 31)
    val p = probe(shingleCall(d).count())
    val grams = Dedup.spreadByKey(d, "id", "text")
      .select(col("__id__"), explode(graft.functions.exprs.word_ngram_hashes(
        col("__t__"), 3, shortFallback = true)).as("__h__"))
      .collect().toSeq.map(r => (r.getLong(1): Any, r.getLong(0)))
    val row = p.metric("graft.shingle.grams")
    assertObserved(row, occupancy(selfGroups(grams.map(_._1)), 30))
    assert(row.getAs[Long]("capped") > 0 && row.getAs[Long]("pairable") > 0)
    val edgeCount = selfPairs(grams, 30).size.toLong
    assert(p.result == Right(edgeCount))
    assertObserved(p.metric("graft.shingle.edges"), Map("rows" -> edgeCount))
  }

  test("semanticNearDupsFixedCells observes its cell occupancy") {
    val v = vecs(seed = 41)
    val p = probe(semanticCall(v).count())
    val centroids = Ivf.trainCentroidsOpt(v, "embedding", 4, sampleSize = 2000, seed = 42L).get
    val cells = Ivf.index(v, "vec_id", "embedding", centroids, 2)
      .select("__cell__").collect().toSeq.map(_.get(0))
    val row = p.metric("graft.semantic.cells")
    assertObserved(row, occupancy(selfGroups(cells), 70))
    assert(row.getAs[Long]("rows") == 240L)
    assert(p.result.exists(_ > 0))
  }

  test("connectedComponents observes its node count and every round's edge set") {
    val e = edges(seed = 51)
    val p = probe(ccCall(e).count())
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct.size.toLong
    assert(p.result == Right(nodes))
    assertObserved(p.metric("graft.cc.nodes"), Map("rows" -> nodes))
    val rounds = starRounds(e)
    assert(rounds.size > 1)
    rounds.zipWithIndex.foreach { case (n, i) =>
      assertObserved(p.metric(s"graft.cc.round.${i + 1}"), Map("rows" -> n))
    }
    assert(!p.names.contains(s"graft.cc.round.${rounds.size + 1}"))
    // the driver union-find path runs no rounds
    val driver = probe(Graph.connectedComponents(e.toDF("src", "dst"), "src", "dst").count())
    assert(!driver.names.exists(_.startsWith("graft.cc.round.")))
    assertObserved(driver.metric("graft.cc.nodes"), Map("rows" -> nodes))
  }

  // ---- all-capped corpora: every group that could pair is over its cap

  /** 30 identical signatures fill one bucket per band. */
  private def cloneSigs: DataFrame =
    (0L until 30L).map(i => (i, Seq(1, 1, 1, 1))).toDF("__id__", "__sig__")

  private def cloneRef: DataFrame =
    (100L until 120L).map(i => (i, Seq(1, 1, 1, 1))).toDF("__id__", "__sig__")

  /** 30 identical documents share every gram. */
  private def cloneDocs: DataFrame = (0L until 30L)
    .map((_, "one two three four five six seven eight nine ten eleven twelve"))
    .toDF("id", "text")

  /** Identical vectors land in one cell. */
  private def cloneVecs: DataFrame =
    (0L until 20L).map(i => (i, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "embedding")

  private def cappedLsh(): DataFrame =
    LshBlocking.candidatePairs(cloneSigs, bands = 2, rowsPerBand = 2, maxBucket = 10)

  private def cappedCross(): DataFrame =
    LshBlocking.crossCandidatePairs(cloneSigs, cloneRef, bands = 2, rowsPerBand = 2,
      maxBucket = 10)

  private def cappedShingle(): DataFrame =
    Dedup.sharedShingleEdges(cloneDocs, "id", "text", shingleN = 8, maxDocsPerGram = 10)

  private def cappedSemantic(): DataFrame =
    Dedup.semanticNearDupsFixedCells(cloneVecs, "vec_id", "embedding",
      threshold = 0.9, nCells = 2, replication = 1, maxCell = 3)

  test("all-capped corpora keep their guards' messages and still post the counters") {
    val lsh = probe(cappedLsh())
    assert(lsh.result.left.map(_.getMessage) == Left(
      "lsh blocking: all 2 occupied multi-member buckets exceed maxBucket=10 and " +
        "hold 60 of 60 banding rows — the banding is too coarse for this corpus and " +
        "zero pairs would be emitted. Widen the bands (more rows per band; see " +
        "VectorOps.lshPlan) or raise maxBucket."))
    assertObserved(lsh.metric("graft.lsh.buckets"), Map("rows" -> 60L, "groups" -> 2L,
      "max_group" -> 30L, "pairable" -> 0L, "capped" -> 2L, "capped_rows" -> 60L,
      "pairs" -> 0L, "capped_pairs" -> 870L))
    assertObserved(lsh.metric("graft.lsh.pairs"), Map("rows" -> 0L))

    val cross = probe(cappedCross())
    assert(cross.result.left.map(_.getMessage) == Left(
      "lsh cross blocking: all 2 cross-side buckets exceed maxBucket=10 — the banding " +
        "is too coarse for these corpora and zero overlap would be reported. Widen the " +
        "bands (more rows per band; see VectorOps.lshPlan) or raise maxBucket."))
    assertObserved(cross.metric("graft.lsh_cross.buckets"), Map("rows" -> 100L,
      "b_rows" -> 40L, "groups" -> 2L, "pairable" -> 0L, "capped" -> 2L,
      "capped_pairs" -> 1200L))

    val grams = probe(cappedShingle())
    assert(grams.result.left.map(_.getMessage) == Left(
      "sharedShingleEdges: all 5 shared grams exceed maxDocsPerGram=10 and they carry " +
        "150 of 150 gram occurrences — the corpus is saturated and ZERO edges would be " +
        "emitted (a wall-to-wall-duplicate corpus would dedup to nothing). Raise " +
        "maxDocsPerGram or use a longer shingleN."))
    assertObserved(grams.metric("graft.shingle.grams"), Map("rows" -> 150L, "groups" -> 5L,
      "pairable" -> 0L, "capped" -> 5L, "capped_rows" -> 150L))

    val sem = probe(cappedSemantic())
    val cells = sem.metric("graft.semantic.cells")
    assert(sem.result.left.map(_.getMessage) == Left(
      s"semanticNearDups: every populated cell exceeds maxCell=3 " +
        s"(${cells.getAs[Long]("capped")} of ${cells.getAs[Long]("groups")} cells capped) — " +
        "the quantizer is under-sized for this corpus at nCells=2; raise nCells (or use " +
        "semanticNearDups, which sizes it to the corpus)"))
    assertObserved(cells, Map("rows" -> 20L, "pairable" -> 0L))
    assert(cells.getAs[Long]("capped") >= 1L)
    assert(spark.sharedState.cacheManager.isEmpty, "a guard left a cached frame behind")
  }

  test("repeated calls in one session post their own counters under the same names") {
    val s1 = sigs(300, seed = 11)
    val s2 = sigs(150, seed = 12)
    val p = probe { lshCall(s1).count(); lshCall(s2).count(); lshCall(s1).count() }
    assert(p.result.isRight)
    val posted = p.events.flatMap(_.get("graft.lsh.buckets")).map(_.getAs[Long]("rows"))
    assert(posted == Seq(1200L, 600L, 1200L))
    val e = edges(seed = 51)
    val twice = probe { ccCall(e).count(); ccCall(e).count() }
    assert(twice.result.isRight)
    assert(twice.events.count(_.contains("graft.cc.round.1")) == 2)
  }

  /** Jobs per call, then per count() of the returned frame, as the
    * operators ran them before they observed anything: the counters
    * ride executions that run anyway and add no job. The all-capped
    * corpora are not pinned: there a cap empties a join side, and the
    * count moved between runs (AQE can drop a sibling stage before or
    * after its job starts). */
  private val jobsPerCall: Seq[(String, () => DataFrame, (Int, Int))] = Seq(
    ("candidatePairs", () => lshCall(sigs(300, seed = 11)), (11, 2)),
    ("crossCandidatePairs", () => crossCall(sigs(200, seed = 21), sigs(100, seed = 22, 1000L)),
      (12, 2)),
    ("sharedShingleEdges", () => shingleCall(docs(120, seed = 31)), (11, 2)),
    ("semanticNearDupsFixedCells", () => semanticCall(vecs(seed = 41)), (17, 2)),
    ("connectedComponents", () => ccCall(edges(seed = 51)), (59, 3)))

  jobsPerCall.foreach { case (name, call, (callJobs, countJobs)) =>
    test(s"$name runs the same number of jobs as before it observed") {
      val built = probe(call())
      val df = built.result.fold(throw _, identity)
      val counted = probe(df.count())
      assert((built.jobs, counted.jobs) == (callJobs, countJobs))
    }
  }
}
