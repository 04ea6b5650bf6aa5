package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame}

/** Exclusive running total as one plan operator: appends `cum_before`,
  * the sum of `weight` over every row before this one in `orderKeys`
  * order, restarting at each change of the partition keys.
  *
  * `cellKeys` are the partition keys followed by ONE bucket key, which
  * must be a non-decreasing function of the order keys (a bucket holds
  * an order-contiguous range). A (partitions, bucket) cell is the unit
  * of work: the rows of one cell are summed and numbered in one task,
  * and only one (cell, sum) pair per cell reaches the driver. Rows are
  * never gathered into one ordered partition, globally or per
  * partition key.
  *
  * Contract, checked at execution time: cell keys and order keys are
  * non-null, and order keys are unique — or, when `requireUniqueOrder`
  * is false, tied rows carry equal weights (tied copies are then
  * interchangeable, and the arbitrary tie order cannot change which
  * weight crosses a cut). `weight` is a non-null LONG; sums that
  * overflow a LONG fail. */
case class PrefixSum(
    cellKeys: Seq[Expression],
    orderKeys: Seq[Expression],
    weight: Expression,
    what: String,
    requireUniqueOrder: Boolean,
    cumBefore: Attribute,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ cumBefore
  override def producedAttributes: AttributeSet = AttributeSet(cumBefore)

  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixSum =
    copy(child = newChild)
}

object PrefixSum {

  /** Above this many cells the per-cell offsets stop being driver
    * material — the caller must choose a wider bucket. */
  val MaxCells = 4000000

  /** `df` plus a `cum_before` column: see [[PrefixSum]]. Builds the
    * plan only; nothing runs until an action. */
  def add(
      df: DataFrame, cellKeys: Seq[Column], orderKeys: Seq[Column],
      weight: Column, what: String, requireUniqueOrder: Boolean): DataFrame = {
    GraftExtensions.install(df.sparkSession)
    val child = Bridge.analyzed(df)
    val all = cellKeys ++ orderKeys :+ weight
    // resolve the columns against `df`'s own plan: a projection over it
    // binds them to its output attributes
    val resolved = Bridge.analyzed(df.select(
      all.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)) match {
      case Project(list, grand) if grand.output == child.output =>
        list.map { case Alias(e, _) => e; case e => e }
      case other => throw new IllegalStateException(
        s"$what: unexpected key projection\n$other")
    }
    val (cells, rest) = resolved.splitAt(cellKeys.length)
    val (orders, w) = rest.splitAt(orderKeys.length)
    require(w.head.dataType == LongType && !w.head.nullable,
      s"$what: weight must be a non-null LONG")
    val sum = PrefixSum(cells, orders, w.head, what, requireUniqueOrder,
      AttributeReference("cum_before", LongType, nullable = false)(), child)
    // published through an alias: the analyzer's self-join
    // deduplication renews Project aliases, not the attributes an
    // unknown node produces, so a self-join of the result stays
    // resolvable
    Bridge.ofRows(df.sparkSession,
      Project(child.output :+ Alias(sum.cumBefore, "cum_before")(), sum))
  }
}

/** Plans [[PrefixSum]] to [[PrefixSumExec]]; injected by [[GraftExtensions]]. */
object PrefixSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PrefixSum =>
      PrefixSumExec(p.cellKeys, p.orderKeys, p.weight, p.what,
        p.requireUniqueOrder, p.cumBefore, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Physical [[PrefixSum]]. The child is hash-partitioned on ALL cell
  * keys (so a stratum-partitioned input still gets the bucket in its
  * exchange) and sorted by (cells, order) — EnsureRequirements inserts
  * that exchange and sort, as it does for a window. `doExecute` then
  * makes two passes over the same sorted RDD, and the upstream runs
  * once, in the exchange's map stage:
  *  1. one job returns one (cell, sum) pair per cell — it reads the
  *     shuffle files the map stage wrote, so the map stage is skipped;
  *  2. the driver folds exclusive offsets in cell order, resetting at
  *     each change of the partition keys (compared as UnsafeRow bytes),
  *     and broadcasts them as one array per reduce partition, aligned
  *     with the order its cells arrive in;
  *  3. one `mapPartitions` over the same RDD adds the running total to
  *     each row's cell offset and checks the order-key contract.
  * Lost shuffle files recompute from lineage, as for any shuffle. */
case class PrefixSumExec(
    cellKeys: Seq[Expression],
    orderKeys: Seq[Expression],
    weight: Expression,
    what: String,
    requireUniqueOrder: Boolean,
    cumBefore: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ cumBefore

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(cellKeys, requireAllClusterKeys = true) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (cellKeys ++ orderKeys).map(SortOrder(_, Ascending)) :: Nil

  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def simpleString(maxFields: Int): String =
    s"PrefixSum cells=${cellKeys.mkString("[", ", ", "]")} " +
      s"order=${orderKeys.mkString("[", ", ", "]")} weight=$weight ($what)"

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixSumExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    // locals only below: the task closures must not capture the plan
    val (in, cells, orders, w, name, unique) =
      (child.output, cellKeys, orderKeys, weight, what, requireUniqueOrder)
    val maxCells = PrefixSum.MaxCells

    // pass 1: (cell, sum) per cell, in each partition's cell order
    val sums = new Array[Array[(UnsafeRow, Long)]](input.getNumPartitions)
    var nCells = 0L
    sparkContext.runJob(input, (it: Iterator[InternalRow]) => {
      val cellOf = UnsafeProjection.create(cells, in)
      val weightOf = UnsafeProjection.create(Seq(w), in)
      val out = scala.collection.mutable.ArrayBuffer.empty[(UnsafeRow, Long)]
      var cur: UnsafeRow = null
      var sum = 0L
      while (it.hasNext && out.length <= maxCells) {
        val row = it.next()
        val c = cellOf(row)
        if (cur == null || c != cur) {
          if (cur != null) out += ((cur, sum))
          cur = c.copy(); sum = 0L
        }
        sum = Math.addExact(sum, weightOf(row).getLong(0))
      }
      if (cur != null) out += ((cur, sum))
      out.toArray
    }, (i: Int, res: Array[(UnsafeRow, Long)]) => {
      nCells += res.length
      if (nCells <= maxCells) sums(i) = res
    })
    require(nCells <= maxCells,
      s"$name: more than $maxCells (partition, bucket) cells — widen the bucket")
    require(sums.forall(_.forall(!_._1.anyNull)),
      s"$name: a partition/order key contains NULL — keys must be non-null " +
        "(a null key has no position in the running order)")

    // driver fold: exclusive offsets in global cell order
    val offsets = sums.map(s => new Array[Long](s.length))
    val cellOrder = RowOrdering.createNaturalAscendingOrdering(cells.map(_.dataType))
    val partOf = UnsafeProjection.create(cells.init.zipWithIndex.map { case (e, i) =>
      BoundReference(i, e.dataType, e.nullable) })
    val located = for (p <- sums.indices; j <- sums(p).indices) yield (p, j)
    var prevPart: UnsafeRow = null
    var acc = 0L
    located.sortBy { case (p, j) => sums(p)(j)._1: InternalRow }(cellOrder).foreach { case (p, j) =>
      val (cell, sum) = sums(p)(j)
      val part = partOf(cell)
      if (prevPart == null || part != prevPart) { prevPart = part.copy(); acc = 0L }
      offsets(p)(j) = acc
      acc = Math.addExact(acc, sum)
    }
    val bc = sparkContext.broadcast(offsets)

    // pass 2: cum_before and the order-key contract, same RDD
    val nullOrderMsg = s"$name: NULL order key — order keys must be NON-NULL " +
      "(a null key has no position in the running order)"
    val dupMsg =
      if (unique)
        s"$name: duplicate order keys — the running order must be a total " +
          "order, so the order key must be UNIQUE (use a row id that is a " +
          "key, or a composite like doc_id*K+copy for oversampled corpora)"
      else
        s"$name: duplicate order keys with DIFFERING weights — tied rows " +
          "must be identical copies (same weight), or the arbitrary tie " +
          "order decides which weight crosses the budget and the cut is " +
          "not rerun-stable (use a composite key for oversampled corpora)"
    val out = output
    input.mapPartitionsWithIndex({ (p, it) =>
      val offs = bc.value(p)
      val cellOf = UnsafeProjection.create(cells, in)
      val orderOf = UnsafeProjection.create(orders, in)
      val weightOf = UnsafeProjection.create(Seq(w), in)
      val result = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      val cum = new SpecificInternalRow(Seq(LongType))
      var cell: UnsafeRow = null
      var k = -1
      var running = 0L
      var prevOrder: UnsafeRow = null
      var prevWeight = 0L
      it.map { row =>
        val c = cellOf(row)
        if (cell == null || c != cell) {
          k += 1
          if (k >= offs.length) throw new IllegalStateException(
            s"$name: partition $p holds more cells than its summing pass saw")
          cell = c.copy(); running = offs(k); prevOrder = null
        }
        val order = orderOf(row)
        if (order.anyNull) throw new IllegalArgumentException(nullOrderMsg)
        val wt = weightOf(row).getLong(0)
        if (prevOrder != null && order == prevOrder && (unique || wt != prevWeight))
          throw new IllegalArgumentException(dupMsg)
        cum.setLong(0, running)
        running = Math.addExact(running, wt)
        prevOrder = order.copy(); prevWeight = wt
        result(joined(row, cum))
      }
    }, preservesPartitioning = true)
  }
}
