package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame}

/** Exclusive running total as one plan operator, restarting at each
  * change of the partition keys, in one of two modes:
  *  - running totals: appends `cum_before`, the sum of `weight` over
  *    every row before this one in `orderKeys` order;
  *  - cut (`cut` and `ids` set): the rows are documents, `ids` their
  *    token ids, and the operator replaces them with the fixed-length
  *    sequences that cutting their concatenation every `seqLen` ids
  *    gives (see [[SequenceCut]]).
  * `emitted` holds the new columns: `cum_before`, or the five sequence
  * columns.
  *
  * `cellKeys` are the partition keys followed by ONE bucket key, which
  * must be a non-decreasing function of the order keys (a bucket holds
  * an order-contiguous range). A (partitions, bucket) cell is the unit
  * of work: the rows of one cell are summed and numbered in one task,
  * and only one bounded summary per cell reaches the driver. Rows are
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
    emitted: Seq[Attribute],
    ids: Option[Expression],
    cut: Option[SequenceCut],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] =
    if (cut.isDefined) emitted else child.output ++ emitted
  override def producedAttributes: AttributeSet = AttributeSet(emitted)

  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixSum =
    copy(child = newChild)
}

/** Cut mode of [[PrefixSum]]: each document's ids (followed by `sepId`,
  * when set, if it has any) are laid end to end in order-key order and
  * cut every `seqLen` ids; the last sequence is padded with `padId`.
  * One row per sequence: `seq_id`, `input_ids`, `doc_offsets` (the
  * start of every document piece in the sequence, 0 first), `n_docs`
  * (the number of pieces) and `n_pad`. */
case class SequenceCut(seqLen: Int, padId: Int, sepId: Option[Int])

object PrefixSum {

  /** Above this many cells the per-cell offsets stop being driver
    * material — the caller must choose a wider bucket. */
  val MaxCells = 4000000

  /** Above this many ids of cell heads (at most `seqLen - 1` per cell)
    * the sequence continuations stop being driver material — the
    * caller must choose a wider bucket. */
  val MaxCutIds: Long = 1L << 24

  /** `df` plus a `cum_before` column: see [[PrefixSum]]. Builds the
    * plan only; nothing runs until an action. */
  def add(
      df: DataFrame, cellKeys: Seq[Column], orderKeys: Seq[Column],
      weight: Column, what: String, requireUniqueOrder: Boolean): DataFrame = {
    val (cells, orders, w) = resolve(df, cellKeys, orderKeys, Seq(weight), what)
    require(w.head.dataType == LongType && !w.head.nullable,
      s"$what: weight must be a non-null LONG")
    val cum = AttributeReference("cum_before", LongType, nullable = false)()
    publish(df, PrefixSum(cells, orders, w.head, what, requireUniqueOrder,
      Seq(cum), None, None, Bridge.analyzed(df)))
  }

  /** The sequences that cutting `df`'s documents gives: see
    * [[SequenceCut]]. `ids` must be an `array<int>` and `weight` (a
    * non-null LONG) each document's stream length: its id count, plus
    * one for the separator when `sepId` is set and the document has
    * ids — checked per row. One cell key (the bucket), no partition
    * keys; the order keys must be unique. Builds the plan only;
    * nothing runs until an action. */
  def cut(
      df: DataFrame, bucket: Column, orderKeys: Seq[Column], ids: Column,
      weight: Column, spec: SequenceCut, what: String): DataFrame = {
    require(spec.seqLen >= 1, s"seqLen must be >= 1, got ${spec.seqLen}")
    val (cells, orders, rest) =
      resolve(df, Seq(bucket), orderKeys, Seq(ids, weight), what)
    val elementNulls = rest.head.dataType match {
      case ArrayType(IntegerType, containsNull) => containsNull
      case other => throw new IllegalArgumentException(
        s"$what: ids must be array<int>, got ${other.simpleString}")
    }
    require(rest(1).dataType == LongType && !rest(1).nullable,
      s"$what: weight must be a non-null LONG")
    // input_ids and n_pad stay nullable, as packTokenIds' published
    // schema has them; no row holds a NULL
    val out = Seq(
      AttributeReference("seq_id", LongType, nullable = false)(),
      AttributeReference("input_ids", ArrayType(IntegerType, elementNulls))(),
      AttributeReference("doc_offsets", ArrayType(IntegerType, containsNull = false),
        nullable = false)(),
      AttributeReference("n_docs", IntegerType, nullable = false)(),
      AttributeReference("n_pad", IntegerType)())
    publish(df, PrefixSum(cells, orders, rest(1), what, requireUniqueOrder = true,
      out, Some(rest.head), Some(spec), Bridge.analyzed(df)))
  }

  /** Binds the columns to `df`'s own output attributes: a projection
    * over `df` resolves them, and its expressions are lifted off. */
  private def resolve(
      df: DataFrame, cellKeys: Seq[Column], orderKeys: Seq[Column], rest: Seq[Column],
      what: String): (Seq[Expression], Seq[Expression], Seq[Expression]) = {
    GraftExtensions.install(df.sparkSession)
    val child = Bridge.analyzed(df)
    val all = cellKeys ++ orderKeys ++ rest
    val resolved = Bridge.analyzed(df.select(
      all.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)) match {
      case Project(list, grand) if grand.output == child.output =>
        list.map { case Alias(e, _) => e; case e => e }
      case other => throw new IllegalStateException(
        s"$what: unexpected key projection\n$other")
    }
    val (cells, more) = resolved.splitAt(cellKeys.length)
    val (orders, tail) = more.splitAt(orderKeys.length)
    (cells, orders, tail)
  }

  /** The node's new columns published through aliases: the analyzer's
    * self-join deduplication renews Project aliases, not the attributes
    * an unknown node produces, so a self-join of the result stays
    * resolvable. */
  private def publish(df: DataFrame, sum: PrefixSum): DataFrame = {
    val kept = if (sum.cut.isDefined) Nil else sum.child.output
    Bridge.ofRows(df.sparkSession,
      Project(kept ++ sum.emitted.map(a => Alias(a, a.name)()), sum))
  }

  /** One cell's summary from the summing pass: its weight total and,
    * in cut mode, its first ids in order (at most `seqLen - 1`) with
    * the positions among them where a document starts. */
  final case class CellSum(cell: UnsafeRow, sum: Long, head: Array[Int], starts: Array[Int])

  /** What a reduce partition's output pass needs from the driver, per
    * cell it holds: the offset, and in cut mode the ids that continue
    * the cell's last sequence past its end (with their document
    * starts). */
  final case class PartPlan(
      cells: Array[UnsafeRow], offsets: Array[Long],
      cont: Array[Array[Int]], contStarts: Array[Array[Int]]) {
    def index: java.util.HashMap[UnsafeRow, Integer] = {
      val m = new java.util.HashMap[UnsafeRow, Integer]()
      cells.indices.foreach(k => m.put(cells(k), k))
      m
    }
  }

  private final class Doc(val key: UnsafeRow, val ids: Array[Int], val weight: Long)
  private final class Acc(var sum: Long, val heap: java.util.PriorityQueue[Doc], var held: Long)

  /** A document's first `n` stream ids: its ids, then the separator. */
  private[plans] def streamPrefix(
      ids: ArrayData, sep: Option[Int], n: Int, what: String): Array[Int] = {
    val len = if (ids == null) 0 else ids.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i < len) {
          if (ids.isNullAt(i)) throw new IllegalArgumentException(
            s"$what: an ids array contains NULL elements — token ids must be non-null")
          ids.getInt(i)
        } else sep.get
      i += 1
    }
    out
  }

  /** The summing pass over one reduce partition's rows, in any order:
    * per-cell sums in a hash map and, when `headLen` > 0, per cell the
    * smallest-key documents that cover `headLen` ids, in a max-heap on
    * the order key — its top leaves as soon as the documents below it
    * cover the head, so a cell holds at most `headLen` ids plus one
    * document's first `headLen`. Stops once a partition holds more
    * than `maxCells` cells (the driver then fails). */
  private[plans] def sumCells(
      it: Iterator[InternalRow], in: Seq[Attribute], cells: Seq[Expression],
      orders: Seq[Expression], w: Expression, ids: Option[Expression],
      sep: Option[Int], headLen: Int, maxCells: Int, what: String): Array[CellSum] = {
    val heads = headLen > 0 && ids.isDefined
    val cellOf = UnsafeProjection.create(cells, in)
    val weightOf = UnsafeProjection.create(Seq(w), in)
    val orderOf = UnsafeProjection.create(orders, in)
    val idsOf = ids.map(BindReferences.bindReference(_, in)).orNull
    val keyOrder = RowOrdering.createNaturalAscendingOrdering(orders.map(_.dataType))
    val largestFirst: java.util.Comparator[Doc] = (a, b) => keyOrder.compare(b.key, a.key)
    val acc = new java.util.HashMap[UnsafeRow, Acc]()
    while (it.hasNext && acc.size <= maxCells) {
      val row = it.next()
      val c = cellOf(row)
      var a = acc.get(c)
      if (a == null) {
        a = new Acc(0L, if (heads) new java.util.PriorityQueue(largestFirst) else null, 0L)
        acc.put(c.copy(), a)
      }
      val wt = weightOf(row).getLong(0)
      a.sum = Math.addExact(a.sum, wt)
      if (heads && wt > 0) {
        val key = orderOf(row)
        // a key past the heap's largest cannot reach a covered head
        if (a.held < headLen || keyOrder.compare(key, a.heap.peek.key) < 0) {
          val ids = idsOf.eval(row).asInstanceOf[ArrayData]
          a.heap.add(new Doc(key.copy(),
            streamPrefix(ids, sep, math.min(wt, headLen.toLong).toInt, what), wt))
          a.held += wt
          while (a.heap.size > 1 && a.held - a.heap.peek.weight >= headLen)
            a.held -= a.heap.poll().weight
        }
      }
    }
    val out = Array.newBuilder[CellSum]
    acc.forEach { (cell, a) =>
      if (!heads) out += CellSum(cell, a.sum, Array.emptyIntArray, Array.emptyIntArray)
      else {
        val docs = a.heap.toArray(new Array[Doc](0))
          .sortWith((x, y) => keyOrder.compare(x.key, y.key) < 0)
        val n = math.min(a.sum, headLen.toLong).toInt
        val head = new Array[Int](n)
        val starts = Array.newBuilder[Int]
        var at = 0
        docs.foreach { d =>
          if (at < n) {
            starts += at
            val take = math.min(d.ids.length, n - at)
            System.arraycopy(d.ids, 0, head, at, take)
            at += take
          }
        }
        out += CellSum(cell, a.sum, head, starts.result())
      }
    }
    out.result()
  }
}

/** Plans [[PrefixSum]] to [[PrefixSumExec]]; injected by [[GraftExtensions]]. */
object PrefixSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PrefixSum =>
      PrefixSumExec(p.cellKeys, p.orderKeys, p.weight, p.what,
        p.requireUniqueOrder, p.emitted, p.ids, p.cut, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Physical [[PrefixSum]]. The child is hash-partitioned on ALL cell
  * keys (so a stratum-partitioned input still gets the bucket in its
  * exchange) and sorted by (cells, order) — EnsureRequirements inserts
  * that exchange and sort, as it does for a window. `doExecute` then
  * makes two passes over the same shuffled rows, and the upstream runs
  * once, in the exchange's map stage:
  *  1. one job returns one summary per cell ([[PrefixSum.sumCells]]) —
  *     it reads the shuffle files the map stage wrote (the map stage
  *     is skipped) BELOW the child's sort, so it sorts nothing;
  *  2. the driver folds exclusive offsets in cell order, resetting at
  *     each change of the partition keys (compared as UnsafeRow bytes),
  *     and, in cut mode, hands each cell the ids that follow it up to
  *     the next `seqLen` boundary or the corpus end, taken from the
  *     heads of the cells after it; it broadcasts one [[PrefixSum.PartPlan]]
  *     per reduce partition;
  *  3. one `mapPartitions` over the sorted rows checks the order-key
  *     contract and adds the running total to each row's cell offset —
  *     or, in cut mode, emits every sequence that starts in the cell as
  *     a finished row, completing the last from the continuation.
  * Lost shuffle files recompute from lineage, as for any shuffle. */
case class PrefixSumExec(
    cellKeys: Seq[Expression],
    orderKeys: Seq[Expression],
    weight: Expression,
    what: String,
    requireUniqueOrder: Boolean,
    emitted: Seq[Attribute],
    ids: Option[Expression],
    cut: Option[SequenceCut],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (cut.isDefined) emitted else child.output ++ emitted

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(cellKeys, requireAllClusterKeys = true) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (cellKeys ++ orderKeys).map(SortOrder(_, Ascending)) :: Nil

  override def outputPartitioning: Partitioning =
    if (cut.isDefined) UnknownPartitioning(child.outputPartitioning.numPartitions)
    else child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    if (cut.isDefined) Nil else child.outputOrdering

  override def simpleString(maxFields: Int): String =
    s"PrefixSum cells=${cellKeys.mkString("[", ", ", "]")} " +
      s"order=${orderKeys.mkString("[", ", ", "]")} weight=$weight ($what)" +
      cut.fold("")(c => s" cut every ${c.seqLen}")

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixSumExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val sorted = child.execute()
    // the summing pass needs no order: it reads the sort's input
    val unsorted = child match {
      case s: SortExec if !s.global => s.child.execute()
      case WholeStageCodegenExec(s: SortExec) if !s.global => s.child.execute()
      case _ => sorted
    }
    // locals only below: the task closures must not capture the plan
    val (in, cells, orders, w, name, unique, idsE, spec) =
      (child.output, cellKeys, orderKeys, weight, what, requireUniqueOrder, ids, cut)
    val sep = spec.flatMap(_.sepId)
    val headLen = spec.fold(0)(_.seqLen - 1)
    val maxCells = PrefixSum.MaxCells

    // pass 1: one summary per cell, from the unsorted shuffle read
    val sums = new Array[Array[PrefixSum.CellSum]](sorted.getNumPartitions)
    var nCells = 0L
    var nHeadIds = 0L
    sparkContext.runJob(unsorted, (it: Iterator[InternalRow]) =>
      PrefixSum.sumCells(it, in, cells, orders, w, idsE, sep, headLen, maxCells, name),
      (i: Int, res: Array[PrefixSum.CellSum]) => {
        nCells += res.length
        res.foreach(nHeadIds += _.head.length)
        if (nCells <= maxCells && nHeadIds <= PrefixSum.MaxCutIds) sums(i) = res
      })
    require(nCells <= maxCells,
      s"$name: more than $maxCells (partition, bucket) cells — widen the bucket")
    require(nHeadIds <= PrefixSum.MaxCutIds,
      s"$name: more than ${PrefixSum.MaxCutIds} ids of sequence edges to hold on " +
        "the driver — widen bucketWidth")
    require(sums.forall(_.forall(!_.cell.anyNull)),
      s"$name: a partition/order key contains NULL — keys must be non-null " +
        "(a null key has no position in the running order)")

    // driver fold: exclusive offsets in global cell order
    val offsets = sums.map(s => new Array[Long](s.length))
    val cellOrder = RowOrdering.createNaturalAscendingOrdering(cells.map(_.dataType))
    val partOf = UnsafeProjection.create(cells.init.zipWithIndex.map { case (e, i) =>
      BoundReference(i, e.dataType, e.nullable) })
    val located = (for (p <- sums.indices; j <- sums(p).indices) yield (p, j))
      .sortBy { case (p, j) => sums(p)(j).cell: InternalRow }(cellOrder)
    var prevPart: UnsafeRow = null
    var acc = 0L
    located.foreach { case (p, j) =>
      val part = partOf(sums(p)(j).cell)
      if (prevPart == null || part != prevPart) { prevPart = part.copy(); acc = 0L }
      offsets(p)(j) = acc
      acc = Math.addExact(acc, sums(p)(j).sum)
    }
    val conts = spec.map(s => continuations(sums, offsets, located, s.seqLen))
    val bc = sparkContext.broadcast(sums.indices.map { p =>
      PrefixSum.PartPlan(sums(p).map(_.cell), offsets(p),
        conts.map(_._1(p)).orNull, conts.map(_._2(p)).orNull)
    }.toArray)

    // pass 2: the order-key contract, and cum_before or the sequences
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
    sorted.mapPartitionsWithIndex({ (p, it) =>
      val plan = bc.value(p)
      val index = plan.index
      val cellOf = UnsafeProjection.create(cells, in)
      val orderOf = UnsafeProjection.create(orders, in)
      val weightOf = UnsafeProjection.create(Seq(w), in)
      var cell: UnsafeRow = null
      var k = -1
      var prevOrder: UnsafeRow = null
      var prevWeight = 0L
      /** The row's weight, after checking its order key; `enter` gets
        * the cell's index when the row starts a new cell. */
      def step(row: InternalRow, enter: Int => Unit): Long = {
        val c = cellOf(row)
        if (cell == null || c != cell) {
          val at = index.get(c)
          if (at == null) throw new IllegalStateException(
            s"$name: partition $p holds a cell its summing pass did not see")
          k = at; cell = c.copy(); prevOrder = null
          enter(k)
        }
        val order = orderOf(row)
        if (order.anyNull) throw new IllegalArgumentException(nullOrderMsg)
        val wt = weightOf(row).getLong(0)
        if (prevOrder != null && order == prevOrder && (unique || wt != prevWeight))
          throw new IllegalArgumentException(dupMsg)
        prevOrder = order.copy(); prevWeight = wt
        wt
      }
      spec match {
        case None =>
          val result = UnsafeProjection.create(out, out)
          val joined = new JoinedRow
          val cum = new SpecificInternalRow(Seq(LongType))
          var running = 0L
          it.map { row =>
            val wt = step(row, k => running = plan.offsets(k))
            cum.setLong(0, running)
            running = Math.addExact(running, wt)
            result(joined(row, cum))
          }
        case Some(s) =>
          new SequenceCutter(it, plan, s, BindReferences.bindReference(idsE.get, in),
            step, out, name)
      }
    }, preservesPartitioning = cut.isEmpty)
  }

  /** For each cell whose last sequence runs past the cell's end: the
    * ids that follow it up to the next `seqLen` boundary, or up to the
    * corpus end, and the positions among them where a document starts.
    * They come from the heads of the cells after it; a head holds
    * `min(sum, seqLen - 1)` ids and the gap is below `seqLen`, so a
    * head shorter than its cell always closes the gap. */
  private def continuations(
      sums: Array[Array[PrefixSum.CellSum]], offsets: Array[Array[Long]],
      located: IndexedSeq[(Int, Int)], seqLen: Int)
      : (Array[Array[Array[Int]]], Array[Array[Array[Int]]]) = {
    val cont = sums.map(s => new Array[Array[Int]](s.length))
    val contStarts = sums.map(s => new Array[Array[Int]](s.length))
    located.indices.foreach { i =>
      val (p, j) = located(i)
      val start = offsets(p)(j)
      val end = start + sums(p)(j).sum
      val firstEdge = Math.floorDiv(start + seqLen - 1, seqLen.toLong) * seqLen
      if (firstEdge < end && end % seqLen != 0) {
        var need = (seqLen - end % seqLen).toInt
        val ids = Array.newBuilder[Int]
        val starts = Array.newBuilder[Int]
        var got = 0
        var next = i + 1
        while (need > 0 && next < located.length) {
          val (q, r) = located(next)
          val h = sums(q)(r)
          val take = math.min(need, h.head.length)
          h.starts.foreach(s => if (s < take) starts += got + s)
          ids ++= h.head.iterator.take(take)
          got += take; need -= take; next += 1
        }
        cont(p)(j) = ids.result(); contStarts(p)(j) = starts.result()
      }
    }
    (cont, contStarts)
  }
}

/** The cut-mode output pass over one reduce partition's sorted rows:
  * walks each cell's documents from the cell's offset, skips the ids
  * of a sequence that started in an earlier cell, and emits every
  * sequence that starts in the cell — its last completed from the
  * cell's continuation and, at the corpus end, padded. Holds one
  * sequence at a time. */
private final class SequenceCutter(
    rows: Iterator[InternalRow], plan: PrefixSum.PartPlan, spec: SequenceCut,
    idsOf: Expression, step: (InternalRow, Int => Unit) => Long,
    out: Seq[Attribute], what: String) extends Iterator[InternalRow] {

  private val L = spec.seqLen
  private val buf = new Array[Int](L)
  private val offs = Array.newBuilder[Int]
  private val ready = new java.util.ArrayDeque[InternalRow]()
  private val toUnsafe = UnsafeProjection.create(out, out)
  private var cell = -1
  private var pos = 0L       // global position of the next id
  private var firstEdge = 0L // the cell's first sequence start
  private var fill = 0
  private var seqId = 0L
  private var done = false

  override def hasNext: Boolean = {
    while (ready.isEmpty && rows.hasNext) consume(rows.next())
    if (ready.isEmpty && !done) { done = true; finishCell() }
    !ready.isEmpty
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    ready.poll()
  }

  private def consume(row: InternalRow): Unit = {
    val wt = step(row, k => {
      finishCell()
      cell = k; pos = plan.offsets(k)
      firstEdge = Math.floorDiv(pos + L - 1, L.toLong) * L
    })
    val ids = idsOf.eval(row).asInstanceOf[ArrayData]
    val n = if (ids == null) 0 else ids.numElements()
    if (n + (if (n > 0 && spec.sepId.isDefined) 1 else 0) != wt)
      throw new IllegalArgumentException(s"$what: a document's weight ($wt) is not " +
        s"its stream length ($n ids${if (spec.sepId.isDefined) " plus the separator" else ""})")
    val stream = PrefixSum.streamPrefix(ids, spec.sepId, wt.toInt, what)
    var t = math.max(0L, firstEdge - pos).toInt
    while (t < stream.length) {
      if (fill == 0) {
        seqId = (pos + t) / L
        offs.clear(); offs += 0
      } else if (t == 0) offs += fill
      val take = math.min(stream.length - t, L - fill)
      System.arraycopy(stream, t, buf, fill, take)
      fill += take; t += take
      if (fill == L) emit()
    }
    pos += wt
  }

  /** Completes the cell's open sequence, if any, from its continuation. */
  private def finishCell(): Unit = if (fill > 0) {
    val cont = if (plan.cont == null) null else plan.cont(cell)
    if (cont != null) {
      plan.contStarts(cell).foreach(s => offs += fill + s)
      System.arraycopy(cont, 0, buf, fill, cont.length)
      fill += cont.length
    }
    emit()
  }

  private def emit(): Unit = {
    val nPad = L - fill
    java.util.Arrays.fill(buf, fill, L, spec.padId)
    val starts = offs.result()
    ready.add(toUnsafe(new GenericInternalRow(Array[Any](seqId,
      UnsafeArrayData.fromPrimitiveArray(buf), UnsafeArrayData.fromPrimitiveArray(starts),
      starts.length, nPad))).copy())
    fill = 0
  }
}
