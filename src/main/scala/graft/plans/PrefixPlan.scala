package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.types._

/** Global running aggregates as one physical operator: logical node +
  * planner strategy + exec, the [[AsOfJoinPlan]] pattern. The operator
  * behind [[graft.ops.Prefix.running]].
  *
  * Output: the child's columns, then one running value per spec (in spec
  * order), then the optional row number, then the grand totals (in spec
  * order), then the optional total row count.
  *
  * Physical shape: the exec requires `OrderedDistribution(order)` and the
  * same ordering from its child, so EnsureRequirements plans exactly one
  * range exchange and a local sort. Execution is two jobs over that one
  * shuffle (a per-partition preview pass, then a map pass):
  *   1. per-partition totals (row count, and the SUM or MAX of each spec),
  *      read from the exchange output below the sort — totals do not
  *      depend on order — and folded on the driver into each partition's
  *      exclusive offsets, the grand totals and the row count;
  *   2. the offset pass over the sorted rows, which extends each
  *      partition's running values from its offsets.
  * Both read the same shuffle, so partition ids agree by construction —
  * with or without exchange reuse, with or without AQE coalescing. No
  * window, no hash exchange, no broadcast.
  */
case class PrefixNode(
    order: Seq[SortOrder],
    values: Seq[Attribute],
    modes: Seq[PrefixMode],
    outs: Seq[Attribute],
    rowNumber: Option[Attribute],
    totals: Seq[Attribute],
    totalCount: Option[Attribute],
    child: LogicalPlan)
  extends UnaryNode {

  private def produced: Seq[Attribute] = outs ++ rowNumber ++ totals ++ totalCount

  override def output: Seq[Attribute] = child.output ++ produced

  override def producedAttributes: AttributeSet = AttributeSet(produced)

  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixNode =
    copy(child = newChild)
}

/** One running column: SUM (or MAX when `isMax`) of its value over the
  * frame ending at the current row (`inclusive`) or at the row before it;
  * `hasTotal` adds the aggregate over all rows. The attributes live in
  * the node, so plan rewrites reach them.
  */
case class PrefixMode(inclusive: Boolean, isMax: Boolean, hasTotal: Boolean)

object PrefixNode {

  /** Plant the node over `child`, whose last `modes.size` columns are the
    * spec values. Result types are the window formulation's: SUM takes
    * Spark `Sum`'s result type (long for integral input, `Decimal(p+10,
    * s)` for decimal input; a grand total sums the partition sums, so one
    * step wider), MAX keeps the input type.
    */
  def apply(
      order: Seq[SortOrder], modes: Seq[PrefixMode], outNames: Seq[String],
      rowNumber: Option[String], totalNames: Seq[String],
      totalCount: Option[String], child: LogicalPlan): PrefixNode = {
    val values = child.output.takeRight(modes.size)
    val outTypes = values.zip(modes).map { case (v, m) => runningType(v.dataType, m.isMax) }
    val totalTypes = outTypes.zip(modes).collect {
      case (t, m) if m.hasTotal => runningType(t, m.isMax)
    }
    PrefixNode(
      order, values, modes,
      outNames.zip(outTypes).map { case (n, t) => AttributeReference(n, t)() },
      rowNumber.map(AttributeReference(_, LongType, nullable = false)()),
      totalNames.zip(totalTypes).map { case (n, t) => AttributeReference(n, t)() },
      totalCount.map(AttributeReference(_, LongType, nullable = false)()),
      child)
  }

  private def runningType(dt: DataType, isMax: Boolean): DataType =
    if (isMax) dt
    else {
      // float sums are not regrouping-exact: a partitioned fold would
      // not reproduce the single-partition window bit-for-bit
      require(dt.isInstanceOf[DecimalType] ||
        Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"prefix sums take integral or decimal values, got $dt")
      Sum(AttributeReference("v", dt)()).dataType
    }
}

object PrefixStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixNode(order, values, modes, outs, rn, totals, tc, child) =>
      PrefixExec(order, values, modes, outs, rn, totals, tc, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PrefixExec(
    order: Seq[SortOrder],
    values: Seq[Attribute],
    modes: Seq[PrefixMode],
    outs: Seq[Attribute],
    rowNumber: Option[Attribute],
    totals: Seq[Attribute],
    totalCount: Option[Attribute],
    child: SparkPlan)
  extends UnaryExecNode {

  private def produced: Seq[Attribute] = outs ++ rowNumber ++ totals ++ totalCount

  override def output: Seq[Attribute] = child.output ++ produced

  override def producedAttributes: AttributeSet = AttributeSet(produced)

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  /** The child below its local sort: the exchange output, in shuffle order. */
  private def unsorted: SparkPlan = child match {
    case WholeStageCodegenExec(s: SortExec) => s.child
    case s: SortExec => s.child
    case other => other
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val folds = values.zip(modes).map { case (v, m) => new PrefixFold(v.dataType, m.isMax) }
    val ordinals = values.map(v => child.output.indexWhere(_.exprId == v.exprId)).toArray
    val k = folds.size

    // job 1: per-partition (row count, totals)
    val sorted = child.execute()
    val parts = unsorted.execute().mapPartitionsWithIndex { (i, rows) =>
      val acc = new Array[Any](k)
      var n = 0L
      rows.foreach { r =>
        n += 1
        var j = 0
        while (j < k) { acc(j) = folds(j).add(acc(j), folds(j).read(r, ordinals(j))); j += 1 }
      }
      Iterator((i, n, acc))
    }.collect().sortBy(_._1)
    require(parts.length == sorted.getNumPartitions,
      s"prefix totals cover ${parts.length} of ${sorted.getNumPartitions} partitions")

    // driver: exclusive offsets per partition; the last entry is the grand fold
    val offsets = parts.scanLeft((0L, new Array[Any](k))) { case ((n0, a0), (_, n, a)) =>
      (n0 + n, Array.tabulate(k)(j => folds(j).add(a0(j), a(j))))
    }
    val (rowCount, grand) = offsets.last
    val outTypes = outs.map(_.dataType).toArray
    val inclusive = modes.map(_.inclusive).toArray
    val totalSlots = modes.indices.filter(modes(_).hasTotal)
    val totalValues = totalSlots.zip(totals).map { case (j, a) => folds(j).emit(grand(j), a.dataType) }
    val hasRowNumber = rowNumber.isDefined
    val producedCount = produced.size
    val types = output.map(_.dataType).toArray

    // job 2: the offset pass over the sorted rows of the same shuffle
    sorted.mapPartitionsWithIndex({ (i, rows) =>
      val (n0, a0) = offsets(i)
      val acc = a0.clone()
      var rn = n0
      val extra = new GenericInternalRow(producedCount)
      var slot = k + (if (hasRowNumber) 1 else 0)
      totalValues.foreach { v => extra.update(slot, v); slot += 1 }
      if (slot < producedCount) extra.setLong(slot, rowCount)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(types)
      rows.map { r =>
        var j = 0
        while (j < k) {
          val v = folds(j).read(r, ordinals(j))
          if (inclusive(j)) {
            acc(j) = folds(j).add(acc(j), v)
            extra.update(j, folds(j).emit(acc(j), outTypes(j)))
          } else {
            extra.update(j, folds(j).emit(acc(j), outTypes(j)))
            acc(j) = folds(j).add(acc(j), v)
          }
          j += 1
        }
        rn += 1
        if (hasRowNumber) extra.setLong(k, rn)
        project(joined(r, extra))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixExec =
    copy(child = newChild)
}

/** One running aggregate's arithmetic. A null accumulator means no
  * non-null value folded yet — the window's SUM and MAX are null over
  * such a frame. Sums accumulate exactly (long, or unbounded decimal),
  * so any regrouping of the fold gives the single-partition value.
  */
private[plans] final class PrefixFold(inType: DataType, isMax: Boolean) extends Serializable {

  @transient private lazy val ord = TypeUtils.getInterpretedOrdering(inType)

  /** The value at `ordinal` in the accumulator's domain, or null. */
  def read(row: InternalRow, ordinal: Int): Any =
    if (row.isNullAt(ordinal)) null
    else if (isMax) InternalRow.copyValue(row.get(ordinal, inType))
    else inType match {
      case d: DecimalType => row.getDecimal(ordinal, d.precision, d.scale)
      case ByteType => row.getByte(ordinal).toLong
      case ShortType => row.getShort(ordinal).toLong
      case IntegerType => row.getInt(ordinal).toLong
      case _ => row.getLong(ordinal)
    }

  def add(acc: Any, v: Any): Any =
    if (v == null) acc
    else if (acc == null) v
    else if (isMax) { if (ord.gt(v, acc)) v else acc }
    else (acc, v) match {
      case (a: Decimal, b: Decimal) => a + b
      case (a: Long, b: Long) => a + b
      case _ => throw new IllegalStateException(s"prefix sum over $acc and $v")
    }

  /** The accumulator as a value of `outType`; a decimal that overflows
    * the type is null, as Spark's non-ANSI `Sum` returns.
    */
  def emit(acc: Any, outType: DataType): Any = (acc, outType) match {
    case (d: Decimal, t: DecimalType) =>
      val out = d.clone()
      if (out.changePrecision(t.precision, t.scale)) out else null
    case _ => acc
  }
}
