package graft.ops

import org.apache.spark.graftfault.BlockLoss
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
import org.scalatest.funsuite.AnyFunSuite

/** Every frame an operator materializes keeps its lineage: when the
  * blocks of a materialized result are lost between the job that
  * stored them and a later read, the read recomputes them and the
  * operator's rows are those of an undisturbed run.
  *
  * The loss is injected on the driver, deterministically: a planner
  * strategy that plans nothing removes the blocks of each frame the
  * call materialized the first time a query that reads it is planned,
  * so the read that follows finds none. A read inside the operator
  * (its guard's `isEmpty`, connected components' counts and collects)
  * is hit as well as the caller's action.
  */
class BlockLossSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-block-loss")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Plans nothing; removes the blocks of a materialized frame before
    * its first read. Targets are the RDDs persisted after the strategy
    * was made, the first `first` of them in creation order (fixed once
    * that many exist: an unreachable RDD leaves the persistent set). */
  private class LoseOnFirstRead(first: Int) extends SparkStrategy {
    private val sc = spark.sparkContext
    private val before = sc.getPersistentRDDs.keySet
    private var fixed: Option[Seq[Int]] = None
    val lost = scala.collection.mutable.LinkedHashSet.empty[Int]
    private def targets: Seq[Int] = fixed.getOrElse {
      val ids = (sc.getPersistentRDDs.keySet -- before).toSeq.sorted
      if (ids.size >= first) fixed = Some(ids.take(first))
      fixed.getOrElse(ids)
    }
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
      plan match {
        case r: LogicalRDD if !lost.contains(r.rdd.id) && targets.contains(r.rdd.id) =>
          BlockLoss.removeRdd(r.rdd.id)
          lost += r.rdd.id
        case _ => ()
      }
      Nil
    }
  }

  /** The sorted rows of `call` run undisturbed, and run again with
    * every materialized frame losing its blocks before its first read;
    * also the frames that lost them. */
  private def withLoss(first: Int = Int.MaxValue)(call: => DataFrame): (Seq[String], Seq[String], Seq[Int]) = {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val undisturbed = rows(call)
    val experimental = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val strategy = new LoseOnFirstRead(first)
    experimental.extraStrategies = Seq(strategy)
    try {
      val disturbed = rows(call)
      (undisturbed, disturbed, strategy.lost.toSeq)
    } finally experimental.extraStrategies = Nil
  }

  private def assertRecomputed(r: (Seq[String], Seq[String], Seq[Int])): Unit = {
    val (undisturbed, disturbed, lost) = r
    assert(lost.nonEmpty, "no materialized frame was read")
    assert(undisturbed.nonEmpty, "the corpus must give rows")
    assert(disturbed == undisturbed)
  }

  private def sigs(n: Int, seed: Int, idBase: Long = 0L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (idBase + i, Seq.fill(8)(rnd.nextInt(3)))).toDF("__id__", "__sig__")
  }

  /** Five-word documents; every fifth repeats the one before it. */
  private def docs: DataFrame = {
    val rnd = new scala.util.Random(5)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps")
    val bodies = Seq.fill(60)(Seq.fill(10)(vocab(rnd.nextInt(5))).mkString(" "))
    bodies.indices.map(i => (i.toLong, bodies(if (i % 5 == 4) i - 1 else i))).toDF("id", "text")
  }

  private def vecs: DataFrame = {
    val rnd = new scala.util.Random(7)
    val centers = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 1.0))
    (0 until 90).map(i => (i.toLong, centers(i % 3).map(_ + rnd.nextGaussian() * 0.01)))
      .toDF("vec_id", "embedding")
  }

  private def edges: DataFrame =
    (((0L until 9L).map(i => (i, i + 1)) ++ (21L to 29L).map(i => (20L, i))) :+ ((40L, 41L)))
      .toDF("src", "dst")

  test("candidatePairs recomputes lost result blocks from lineage") {
    assertRecomputed(withLoss()(
      LshBlocking.candidatePairs(sigs(200, 1), bands = 4, rowsPerBand = 2, maxBucket = 60)))
  }

  test("crossCandidatePairs recomputes lost result blocks from lineage") {
    assertRecomputed(withLoss()(LshBlocking.crossCandidatePairs(
      sigs(150, 2), sigs(150, 3, idBase = 1000L), bands = 4, rowsPerBand = 2, maxBucket = 60)))
  }

  test("sharedShingleEdges (materialized) recomputes lost result blocks from lineage") {
    assertRecomputed(withLoss()(
      Dedup.sharedShingleEdges(docs, "id", "text", shingleN = 3, maxDocsPerGram = 60)))
  }

  test("semanticNearDupsFixedCells recomputes lost result blocks from lineage") {
    assertRecomputed(withLoss()(Dedup.semanticNearDupsFixedCells(vecs, "vec_id", "embedding",
      threshold = 0.99, nCells = 4, replication = 2, maxCell = 90)))
  }

  test("minhashClusterDedup recomputes its lost verified pairs from lineage") {
    assertRecomputed(withLoss()(Dedup.minhashClusterDedup(docs, "id", "text",
      shingleN = 2, numHashes = 32, bands = 16, threshold = 0.8)))
  }

  test("connectedComponents' driver path recomputes its lost edges and nodes from lineage") {
    val r = withLoss()(Graph.connectedComponents(edges, "src", "dst"))
    assertRecomputed(r)
    assert(r._3.size == 2, s"lost ${r._3}: the edges and the node set")
  }

  test("connectedComponents' distributed path recomputes its lost edges and nodes from lineage") {
    // the rounds stay truncated: only the normalized edges and the node
    // set, the first two frames the call materializes, lose blocks
    val r = withLoss(first = 2)(
      Graph.connectedComponents(edges, "src", "dst", maxDriverEdges = 0))
    assertRecomputed(r)
    assert(r._3.size == 2, s"lost ${r._3}: the edges and the node set")
  }
}
