package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}

/** AS-OF JOIN as a first-class plan operator (SURVEY §7 preference (c):
  * custom LogicalPlan + SparkStrategy + SparkPlan, registered through
  * SparkSessionExtensions).
  *
  * Semantics (trade/quote style, backward-looking, strict): for every
  * left row, attach the right row with the same key whose time is the
  * LARGEST value STRICTLY BELOW the left row's time; unmatched left
  * rows null-pad (left-outer). Identical to DuckDB's
  * `ASOF LEFT JOIN ... ON l.k = r.k AND l.t > r.t`, which is the
  * correctness oracle for the q_asof gate query.
  *
  * Why a whole-operator plan node rather than a composition: the
  * range-condition formulations Catalyst can plan — (a) inequality
  * join + per-left-row max, or (b) union + window `last(ignoreNulls)`
  * — either explode to O(left x right-per-key) intermediate rows
  * before aggregating, or force BOTH sides through one window sort and
  * a union'd schema. The dedicated physical operator is the classic
  * merge: shuffle both sides by key, sort each by (key, time), and
  * stream the two sorted iterators per partition with one cursor —
  * O(left + right) per partition, no intermediate blow-up. At 100 TB
  * this is the difference between a linear merge and a quadratic
  * range-join explosion on hot keys.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]; injected by [[GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical sorted-merge as-of join.
  *
  * Declares ClusteredDistribution on the keys for both children and a
  * (keys..., time) ascending required ordering — EnsureRequirements
  * inserts the co-partitioning exchanges and sorts exactly as it does
  * for a sort-merge join, and AQE remains free to re-plan them. Each
  * partition then merges its two sorted streams with a single right
  * cursor: advance right while (rKey, rTime) < (lKey, lTime)
  * lexicographically, remembering the last right row; emit it when its
  * key equals the left key.
  *
  * Not whole-stage-codegen'd (doExecute only) — acceptable for a
  * whole-operator node whose cost is the two sorts it shares with SMJ;
  * the merge itself is one comparison per row.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val ktTypes = (leftKeys :+ leftTime).map(_.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKT = UnsafeProjection.create(leftKeys :+ leftTime, left.output)
      val rKT = UnsafeProjection.create(rightKeys :+ rightTime, right.output)
      val lKey = UnsafeProjection.create(leftKeys, left.output)
      val rKey = UnsafeProjection.create(rightKeys, right.output)
      val ktOrdering = RowOrdering.createNaturalAscendingOrdering(ktTypes)
      val nullRight = new GenericInternalRow(right.output.length)
      val joined = new JoinedRow
      val result = UnsafeProjection.create(
        output, left.output ++ right.output.map(_.withNullability(true)))

      val nKeys = leftKeys.length
      new Iterator[InternalRow] {
        private var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
        private var lastMatch: InternalRow = null // copied
        private var lastMatchKey: UnsafeRow = null // copied

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lkt = lKT(l)
          // consume right rows strictly below (lKey, lTime). SQL null
          // semantics (`l.t > r.t` / `l.k = r.k` never true for NULL):
          // null-time and null-key right rows are consumed — they sort
          // nulls-first within their key — but never recorded as a match
          while (rHead != null && ktOrdering.compare(rKT(rHead), lkt) < 0) {
            val rkt = rKT(rHead)
            if (!rkt.isNullAt(nKeys) && !rKey(rHead).anyNull) {
              lastMatch = rHead.copy()
              lastMatchKey = rKey(rHead).copy()
            }
            rHead = if (rIter.hasNext) rIter.next() else null
          }
          val lk = lKey(l)
          // a left row with a null key or null time matches nothing
          if (!lkt.isNullAt(nKeys) && !lk.anyNull &&
              lastMatchKey != null && lastMatchKey == lk)
            result(joined(l, lastMatch))
          else
            result(joined(l, nullRight))
        }
      }
    }
  }
}

/** SparkSessionExtensions entry point for graft's plan operators
  * ([[AsOfJoin]], [[PrefixSum]]): build sessions with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
}

object GraftExtensions {
  private val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy, PrefixSumStrategy)

  /** Ensure the strategies are available on `spark` even when the
    * session was built without [[GraftExtensions]] (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val missing = strategies.filterNot(cs.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      cs.experimental.extraStrategies = cs.experimental.extraStrategies ++ missing
  }
}

/** Public as-of join API over DataFrames. */
object AsOf {

  /** For each left row: columns of the right row with equal keys
    * (`leftOn(i) == rightOn(i)`) and the greatest `rightTimeCol`
    * strictly below `leftTimeCol` (null-padded when none). Columns
    * sharing a name across the two frames must be renamed by the
    * caller first (both sides' columns are kept). */
  def join(
      leftDf: DataFrame, rightDf: DataFrame,
      leftOn: Seq[String], rightOn: Seq[String],
      leftTimeCol: String, rightTimeCol: String): DataFrame = {
    require(leftOn.length == rightOn.length, "key lists must align")
    GraftExtensions.install(leftDf.sparkSession)
    val lp = Bridge.analyzed(leftDf)
    val rp = Bridge.analyzed(rightDf)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in [${p.output.map(_.name).mkString(",")}]"))
    val (lks, rks) = (leftOn.map(attr(lp, _)), rightOn.map(attr(rp, _)))
    val (lt, rt) = (attr(lp, leftTimeCol), attr(rp, rightTimeCol))
    // the merge compares raw bytes / left-typed orderings — unlike a
    // regular join there is no analyzer to insert implicit casts, so
    // mismatched types would compare garbage; fail loudly instead
    lks.zip(rks).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key type mismatch: ${a.name}:${a.dataType} vs ${b.name}:${b.dataType} — cast explicitly") }
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: ${lt.name}:${lt.dataType} vs ${rt.name}:${rt.dataType} — cast explicitly")
    AsOf.ofPlans(leftDf.sparkSession, lp, rp, lks, rks, lt, rt)
  }

  /** Same-named keys on both sides. */
  def join(
      leftDf: DataFrame, rightDf: DataFrame,
      on: Seq[String], leftTimeCol: String, rightTimeCol: String): DataFrame =
    join(leftDf, rightDf, on, on, leftTimeCol, rightTimeCol)

  private def ofPlans(
      spark: SparkSession, lp: LogicalPlan, rp: LogicalPlan,
      lk: Seq[Expression], rk: Seq[Expression],
      lt: Expression, rt: Expression): DataFrame =
    Bridge.ofRows(spark, AsOfJoin(lp, rp, lk, rk, lt, rt))
}
