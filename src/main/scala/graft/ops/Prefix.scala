package graft.ops

import graft.plans.{PrefixMode, PrefixNode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.col

/** Global prefix aggregation (guide §2.4, §5).
  *
  * `Window.orderBy(...)` with no partition key moves EVERY row to one
  * partition (`WindowExec: No Partition Defined`) — a serial funnel that
  * caps cumulative cuts, ranks and ECDF shapes at single-task throughput
  * no matter the cluster. This helper computes the same running values
  * with one physical operator, [[graft.plans.PrefixExec]]:
  *
  *   - ONE range exchange on the total order, plus a local sort;
  *   - TWO jobs over that shuffle: per-partition totals (partition-count
  *     rows, folded on the driver into exclusive offsets), then the offset
  *     pass that extends each partition's running values;
  *   - no window, no hash exchange, no broadcast, and no reliance on
  *     exchange reuse: both jobs read the same shuffle, so partition ids
  *     agree by construction.
  *
  * Arithmetic identity: running LONG/DECIMAL sums, counts/row numbers and
  * MIN/MAX are associative regrouping-exact, so the combined value equals
  * the single-partition window's bit-for-bit. Float running sums are NOT,
  * and are rejected.
  *
  * PRECONDITION: `sort` must be a total order (unique key tuples — every
  * call site tiebreaks on a key column). With duplicate sort tuples a
  * "running" value is not well-defined in either formulation.
  *
  * The partition count follows `spark.sql.shuffle.partitions` / AQE
  * coalescing — scale-adaptive, nothing tuned to local core counts.
  */
object Prefix {

  /** One running column: `out` = running aggregate of `value` over the
    * global `sort` order. `inclusive` = frame ends at CURRENT ROW, else
    * at the previous row (exclusive prefix, null when empty — matching
    * the unpartitioned window's semantics). `isMax` switches the
    * aggregate from SUM to MAX (associative, so the same offset fold
    * applies; used for skyline-style running maxima). `grandTotal` adds
    * the aggregate over all rows.
    */
  final case class Running(
      out: String, value: Column, inclusive: Boolean = true,
      isMax: Boolean = false, grandTotal: Option[String] = None)

  /** Add the requested running columns (and optionally a global
    * `rowNumber` and a global `totalCount`) to `df`, preserving all
    * existing columns. Column order: `df`'s, the running columns, the
    * row number, the grand totals, the total count. Result types match
    * the single-partition window formulation exactly.
    */
  def running(
      df: DataFrame, sort: Seq[Column], specs: Seq[Running],
      rowNumber: Option[String] = None,
      totalCount: Option[String] = None): DataFrame = {
    val added = specs.map(_.out) ++ rowNumber ++ specs.flatMap(_.grandTotal) ++ totalCount
    require(added.distinct.size == added.size && !added.exists(df.columns.contains),
      s"prefix output names ${added.mkString(", ")} must be new and distinct")
    val spark = df.sparkSession
    // each value becomes a child column, so the node reads attributes only
    val valueNames = specs.indices.map(i => s"_pfx_v$i")
    val projected = df.select(col("*") +: specs.zip(valueNames).map {
      case (s, n) => s.value.as(n)
    }: _*)
    val (order, child) = projected.sortWithinPartitions(sort: _*).queryExecution.analyzed match {
      case Sort(order, false, child, _) => (order, child)
      case other => throw new IllegalStateException(s"unexpected sort plan:\n$other")
    }
    val node = PrefixNode(
      order, specs.map(s => PrefixMode(s.inclusive, s.isMax, s.grandTotal.isDefined)),
      specs.map(_.out), rowNumber, specs.flatMap(_.grandTotal), totalCount, child)
    org.apache.spark.sql.GraftSqlShim.ofRows(spark, node).drop(valueNames: _*)
  }
}
