package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.classic.Strategy

/** As-of join as a first-class operator: logical node + planner strategy +
  * sort-merge physical plan.
  *
  * Semantics: for each left row, attach `rightVals` from the latest right
  * row with the same key whose `rightTime` <= `leftTime` (ties on
  * rightTime resolved by the largest `rightTiebreak`); no match -> nulls.
  *
  * Physical shape: both sides hash-partitioned on the key and sorted by
  * (key, time) — Spark's EnsureRequirements inserts the exchanges/sorts —
  * then a single streaming merge per partition. Compared to the composed
  * union+window formulation ([[graft.ops.AsOfJoin]], kept as the parity
  * reference) this avoids padding both sides to a common schema and the
  * window materialization; compared to an inequality join it never expands
  * beyond |left| + |right| rows. State per partition is one buffered right
  * row — O(1) memory regardless of key skew.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightTiebreak: Attribute,
    rightVals: Seq[Attribute])
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lt, rk, rt, rtb, rv) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, rtb, rv) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightTiebreak: Attribute,
    rightVals: Seq[Attribute])
  extends BinaryExecNode {

  private val rightValsOut: Seq[Attribute] = rightVals.map(_.withNullability(true))

  override def output: Seq[Attribute] = left.output ++ rightValsOut

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey)),
    ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(
      SortOrder(rightKey, Ascending),
      SortOrder(rightTime, Ascending),
      SortOrder(rightTiebreak, Ascending)))

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering
  override def outputPartitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKey
    val lt = leftTime
    val rk = rightKey
    val rt = rightTime
    val rv = rightVals
    val out = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyEval = UnsafeProjection.create(Seq(lk), leftOut)
      val lTimeEval = UnsafeProjection.create(Seq(lt), leftOut)
      val rKeyEval = UnsafeProjection.create(Seq(rk), rightOut)
      val rTimeEval = UnsafeProjection.create(Seq(rt), rightOut)
      val valsProj = UnsafeProjection.create(rv, rightOut)
      val resultProj = UnsafeProjection.create(out, leftOut ++ rightValsOut)
      val nullVals = new GenericInternalRow(rv.length)
      val joined = new JoinedRow

      val rBuf = rIter.buffered
      var matchVals: InternalRow = null
      var matchKey: Any = null

      def keyOf(row: InternalRow, proj: UnsafeProjection, dt: Attribute): Any = {
        val r = proj(row)
        if (r.isNullAt(0)) null
        else r.get(0, dt.dataType) match {
          // the projection reuses its buffer; copy buffer-backed values
          case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
          case v => v
        }
      }

      lIter.map { lrow =>
        val k = keyOf(lrow, lKeyEval, lk)
        val t = keyOf(lrow, lTimeEval, lt)
        if (k == null || t == null) {
          resultProj(joined(lrow, nullVals))
        } else {
          if (matchKey != null && keyOrd.compare(matchKey, k) != 0) {
            matchKey = null; matchVals = null
          }
          var advance = true
          while (advance && rBuf.hasNext) {
            val head = rBuf.head
            val hk = keyOf(head, rKeyEval, rk)
            if (hk == null) { rBuf.next() } // null keys sort first; discard
            else {
              val c = keyOrd.compare(hk, k)
              if (c < 0) { rBuf.next(); matchKey = null; matchVals = null }
              else if (c == 0) {
                val ht = keyOf(head, rTimeEval, rt)
                if (ht != null && timeOrd.compare(ht, t) <= 0) {
                  matchVals = valsProj(rBuf.next()).copy()
                  matchKey = k
                } else if (ht == null) { rBuf.next() }
                else advance = false
              } else advance = false
            }
          }
          resultProj(joined(lrow, if (matchVals == null) nullVals else matchVals))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinPlan {

  /** User-facing as-of join on the custom operator: resolves the named
    * columns against the analyzed child plans and plants the logical node.
    */
  def asOf(
      left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String],
      rightTiebreak: String): org.apache.spark.sql.DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${p.output.map(_.name)}"))
    // Align right key/time physical types with the left BEFORE planting the
    // node: the exec's interpreted orderings are built from the LEFT attr
    // types but applied to right-side values, so a physical mismatch (e.g.
    // DateType Int vs TimestampType Long) would compare mixed boxed types.
    val alignedRight = {
      val lkT = attr(lp, key).dataType
      val ltT = attr(lp, leftTime).dataType
      var r = right
      if (r.schema(key).dataType != lkT)
        r = r.withColumn(key, org.apache.spark.sql.functions.col(key).cast(lkT))
      if (r.schema(rightTime).dataType != ltT)
        r = r.withColumn(rightTime, org.apache.spark.sql.functions.col(rightTime).cast(ltT))
      r
    }
    val rp = alignedRight.queryExecution.analyzed
    org.apache.spark.sql.GraftSqlShim.ofRows(
      spark,
      AsOfJoinNode(
        lp, rp,
        attr(lp, key), attr(lp, leftTime),
        attr(rp, key), attr(rp, rightTime),
        attr(rp, rightTiebreak),
        rightVals.map(attr(rp, _))))
  }
}
