package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a bounded-window range join into a banded
  * equi-join automatically.
  *
  * A join whose condition carries `rd >= ld AND rd <= ld + INTERVAL K
  * days` (with `ld` from the left side and `rd` from the right, K whole
  * days) forces Spark to evaluate the inequality against every row pair
  * that survives the equi-keys — for a self-join keyed only on a customer
  * this grows quadratically with history depth. Because the window is
  * BOUNDED, each side can be assigned a K-day bucket number and matching
  * pairs can only sit in the same or adjacent buckets: the left side
  * expands to its own and the successor bucket (a 2x explode of the
  * smaller projection), the right computes one bucket, and the bucket
  * equality joins alongside the original condition — turning the
  * inequality join into an equi-join whose per-group expansion is bounded
  * by the bucket population, never the full key history. The original
  * predicate is kept verbatim, so the rewrite is purely an access-path
  * change: a row pair appears exactly once (the two left buckets are
  * distinct values, the right has one) and null dates never match, same
  * as the original condition.
  *
  * This is the rule form of the hand-banded `q_range_join_pairs`
  * (ops/Relational.scala); with the rule installed, the NAIVE formulation
  * plans the banded shape (graded as `q_range_join_auto`).
  */
object BandRangeJoin extends Rule[LogicalPlan] {

  private val BandName = "graft_band_bucket"
  private val DayMicros = 86400000000L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          // re-entry guard: the rewritten join carries our band attributes
          if !left.output.exists(_.name.startsWith(BandName)) &&
            !right.output.exists(_.name.startsWith(BandName)) &&
            // hand-banded guard: a query that already explodes a bucket
            // array below the join (the manual banding pattern this rule
            // automates) must not be banded a second time — correct but
            // redundant work
            !alreadyBanded(left) =>
        matchWindow(cond, left, right) match {
          case Some((ld, rd, days)) =>
            // band width K+1, not K: under a DST-observing session zone a
            // K-day interval on TIMESTAMP (LTZ) can span K calendar days
            // PLUS the shifted hour, and the two-bucket invariant
            // (bucket(rd) ∈ {bucket(ld), bucket(ld)+1}) only holds while
            // the window never exceeds the band width. One extra day of
            // width costs a sliver of join selectivity and is immune to
            // any sub-day slack. (This engine pins UTC, but the rule must
            // hold for library users under any session zone.)
            val bandL = bucket(ld, days + 1)
            val bandR = bucket(rd, days + 1)
            val bbAttr = AttributeReference(
              s"${BandName}_l", LongType, nullable = true)()
            val leftG = Generate(
              Explode(CreateArray(Seq(bandL, Add(bandL, Literal(1L))))),
              unrequiredChildIndex = Nil,
              outer = false,
              qualifier = None,
              generatorOutput = Seq(bbAttr),
              child = left)
            val bbR = Alias(bandR, s"${BandName}_r")()
            val rightP = Project(right.output :+ bbR, right)
            val newJoin = Join(
              leftG, rightP, Inner,
              Some(And(EqualTo(bbAttr, bbR.toAttribute), cond)), hint)
            Project(j.output, newJoin)
          case None => j
        }
    }
  }

  /** True when the subtree already explodes a small literal-sized array
    * of integral bucket values — the manual banding idiom
    * (`explode(array(b, b + 1))`); conservative: suppressing the rewrite
    * only costs the automatic banding, never correctness.
    */
  private def alreadyBanded(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case g: Generate if (g.generator match {
        case Explode(CreateArray(children, _)) =>
          children.nonEmpty && children.forall(c =>
            c.dataType == LongType || c.dataType == IntegerType)
        case _ => false
      }) => g
    }.nonEmpty

  /** K-day bucket number of a date/timestamp expression (floor of
    * days-since-epoch / K) — floor, not truncation, so pre-1970 values
    * still band correctly.
    */
  private def bucket(e: Expression, days: Long): Expression = {
    // timezone-aware source types (TimestampType) need an explicit zone on
    // the date cast or the expression is unresolved post-analysis
    val asDate =
      if (e.dataType == DateType) e
      else Cast(e, DateType, Some(conf.sessionLocalTimeZone))
    Cast(
      Floor(Divide(
        Cast(DateDiff(asDate, Literal(0, DateType)), DoubleType),
        Literal(days.toDouble))),
      LongType)
  }

  /** Find `rd >= ld` and `rd <= ld + INTERVAL k DAYS` conjuncts (either
    * argument order) where `ld`/`rd` are single-side expressions; returns
    * (ld, rd, k). Only fires for whole-day, positive windows.
    */
  private def matchWindow(
      cond: Expression,
      left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Long)] = {
    val conjuncts = splitConjuncts(cond)
    def leftOnly(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def rightOnly(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(right.outputSet)

    // lower bound: rd >= ld (or ld <= rd)
    val lower = conjuncts.collectFirst {
      case GreaterThanOrEqual(rd, ld) if rightOnly(rd) && leftOnly(ld) =>
        (ld, rd)
      case LessThanOrEqual(ld, rd) if leftOnly(ld) && rightOnly(rd) =>
        (ld, rd)
    }
    lower.flatMap { case (ld, rd) =>
      // upper bound on the SAME pair: rd <= ld + K
      val days = conjuncts.collectFirst {
        case LessThanOrEqual(rd2, AddedInterval(ld2, k))
            if rd2.semanticEquals(rd) && ld2.semanticEquals(ld) => k
        case GreaterThanOrEqual(AddedInterval(ld2, k), rd2)
            if rd2.semanticEquals(rd) && ld2.semanticEquals(ld) => k
      }
      days.collect { case k if k > 0 => (ld, rd, k) }
    }
  }

  /** `expr + INTERVAL k DAYS` in its resolved forms; yields whole days. */
  private object AddedInterval {
    def unapply(e: Expression): Option[(Expression, Long)] = e match {
      case TimestampAddInterval(base,
          Literal(micros: Long, _: DayTimeIntervalType), _)
          if micros % DayMicros == 0 =>
        Some((base, micros / DayMicros))
      case DateAddInterval(base,
          Literal(micros: Long, _: DayTimeIntervalType), _, _) =>
        if (micros % DayMicros == 0) Some((base, micros / DayMicros)) else None
      case DateAdd(base, Literal(days: Int, IntegerType)) =>
        Some((base, days.toLong))
      case _ => None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }
}
