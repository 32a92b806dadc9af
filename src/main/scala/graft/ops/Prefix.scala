package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-pass global prefix aggregation (guide §2.4, §5).
  *
  * `Window.orderBy(...)` with no partition key moves EVERY row to one
  * partition (`WindowExec: No Partition Defined`) — a serial funnel that
  * caps cumulative cuts, ranks and ECDF shapes at single-task throughput
  * no matter the cluster. This helper computes the same running values
  * with the classic range-partitioned prefix pattern:
  *
  *   1. range-partition by the total order (one range exchange, shared
  *      by steps 2 and 3 through exchange reuse);
  *   2. per-partition running aggregate (partitioned window — parallel);
  *   3. per-partition totals (partition-count rows, the one tiny global
  *      pass) folded into EXCLUSIVE prefix offsets;
  *   4. broadcast-join the offsets back and combine.
  *
  * Exchanges per call: the range exchange, plus a
  * `hashpartitioning(_pfx_pid)` exchange in front of step 2's window and
  * one in front of step 3's totals aggregate (range partitioning does
  * not satisfy a clustered distribution on `_pfx_pid`). Correctness
  * rests on the range exchange being planned ONCE: two independently
  * sampled range partitioners would assign different `_pfx_pid`s in the
  * two branches (PlanAuditSpec checks the reuse on an executed plan).
  *
  * Arithmetic identity: running LONG/DECIMAL sums, counts/row numbers and
  * MIN/MAX are associative regrouping-exact, so the combined value equals
  * the single-partition window's bit-for-bit. (Float running sums are NOT
  * — no call site converts one.)
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
    * applies; used for skyline-style running maxima).
    */
  final case class Running(
      out: String, value: Column, inclusive: Boolean = true,
      isMax: Boolean = false, grandTotal: Option[String] = None)

  private val pidCol = "_pfx_pid"

  /** Add the requested running columns (and optionally a global
    * `rowNumber` and a global `totalCount`) to `df`, preserving all
    * existing columns. Result column types match the single-partition
    * window formulation exactly (the local window's result type; offsets
    * are cast back down, lossless because the combined value equals the
    * global running value which that type already held).
    */
  def running(
      df: DataFrame, sort: Seq[Column], specs: Seq[Running],
      rowNumber: Option[String] = None,
      totalCount: Option[String] = None): DataFrame = {
    val ranged = df.repartitionByRange(sort: _*)
      .withColumn(pidCol, spark_partition_id())
    val wIncl = Window.partitionBy(pidCol).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wExcl = Window.partitionBy(pidCol).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRank = Window.partitionBy(pidCol).orderBy(sort: _*)

    // pass over the ranged rows: local running values
    var local = ranged
    specs.foreach { s =>
      val w = if (s.inclusive) wIncl else wExcl
      val agg = if (s.isMax) max(s.value) else sum(s.value)
      local = local.withColumn(s.out, agg.over(w))
    }
    rowNumber.foreach { rn =>
      local = local.withColumn(rn, row_number().over(wRank).cast("long"))
    }

    // per-partition totals -> exclusive offsets (partition-count rows;
    // the range exchange below `ranged` is identical to the one above, so
    // ReuseExchange runs the shuffle once)
    val totalAggs =
      specs.map(s =>
        (if (s.isMax) max(s.value) else sum(s.value)).as(s.out + "_tot")) ++
      Seq(count(lit(1)).as("_pfx_cnt"))
    val totals = ranged.groupBy(col(pidCol)).agg(totalAggs.head, totalAggs.tail: _*)
    val wPrior = Window.orderBy(pidCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    var offsets = totals
    specs.foreach { s =>
      val prior =
        if (s.isMax) max(col(s.out + "_tot")).over(wPrior)
        else sum(col(s.out + "_tot")).over(wPrior)
      offsets = offsets.withColumn(s.out + "_off", prior)
      // grand total over ALL rows, folded from the partition totals —
      // replaces a `Window.partitionBy()` (also single-partition) pass
      // over the fact-sized frame with one over partition-count rows
      s.grandTotal.foreach { gt =>
        val all =
          if (s.isMax) max(col(s.out + "_tot")).over(wAll)
          else sum(col(s.out + "_tot")).over(wAll)
        offsets = offsets.withColumn(gt, all)
      }
    }
    offsets = offsets
      .withColumn("_pfx_cnt_off",
        coalesce(sum(col("_pfx_cnt")).over(wPrior), lit(0L)))
    totalCount.foreach { tc =>
      offsets = offsets.withColumn(tc, sum(col("_pfx_cnt")).over(wAll))
    }
    offsets = offsets.drop(specs.map(_.out + "_tot") :+ "_pfx_cnt": _*)

    // combine: local running value + this partition's exclusive offset
    var out = local.join(broadcast(offsets), pidCol)
    specs.foreach { s =>
      val t = local.schema(s.out).dataType
      val combined =
        if (s.isMax)
          // greatest skips nulls; first global rows stay null in the
          // exclusive form, exactly like the unpartitioned window
          greatest(col(s.out), col(s.out + "_off"))
        else {
          val off = col(s.out + "_off").cast(t)
          when(col(s.out).isNull && off.isNull, lit(null).cast(t))
            .otherwise(
              coalesce(col(s.out), lit(0).cast(t)) + coalesce(off, lit(0).cast(t)))
        }
      out = out.withColumn(s.out, combined.cast(t))
    }
    rowNumber.foreach { rn =>
      out = out.withColumn(rn, col(rn) + col("_pfx_cnt_off"))
    }
    out.drop(pidCol +: "_pfx_cnt_off" +: specs.map(_.out + "_off"): _*)
  }
}
