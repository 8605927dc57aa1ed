package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a KEYLESS interval join into a banded
  * equi-join (preference order (c) of the design brief — the one place
  * built-in planning genuinely does the wrong thing).
  *
  * A join whose only condition is an interval window,
  *
  * {{{  r.ts > l.ts  AND  r.ts <= l.ts + INTERVAL w  }}}
  *
  * has no equality conjunct, so Spark must plan BroadcastNestedLoopJoin —
  * |L|x|R| comparisons and a full broadcast of one side. This rule adds
  * the missing equality: it buckets both timestamps into width-`w` bands
  * (`epoch_micros DIV w_micros`), explodes the left side into its own
  * and the following band (any right row within (l, l+w] falls in one of
  * those two), and re-joins on band equality with the ORIGINAL interval
  * predicate kept as the residual filter. `ExtractEquiJoinKeys` then
  * sees the band equality and plans a shuffle/broadcast HASH join; the
  * rewrite is the logical-plan form of
  * [[graft.operators.RangeJoin.bandedIntervalAfter]].
  *
  * Guards: inner joins only; both bounds must reference the same
  * timestamp pair from opposite sides (`TimestampType`, epoch >= 0 data
  * assumed — warehouse time); a positive literal interval width; no
  * pre-existing equality conjunct (then Spark already hash-joins and the
  * band would only add fan-out). The rewritten join contains a band
  * equality, so the rule cannot re-fire on its own output.
  *
  * Registered by [[graft.GraftExtensions]] via `injectOptimizerRule`, so
  * every [[graft.GraftSession]] session (the mains and the test suite)
  * runs it;
  * `spark.sql.optimizer.excludedRules` switches it off by name.
  */
object BandedIntervalJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  // TimestampType only: UnixMicros (the band input) is defined on
  // instant timestamps; NTZ interval joins keep their original plan.
  private def isBandableTs(e: Expression): Boolean =
    e.dataType == TimestampType

  /** (rightTs + width) forms: `ts + INTERVAL` as TimestampAddInterval
    * with a literal day-time interval, returning width in microseconds. */
  private object TsPlusLiteralInterval {
    def unapply(e: Expression): Option[(Expression, Long)] = e match {
      case TimestampAddInterval(ts, Literal(micros: Long, _: DayTimeIntervalType), _) =>
        Some((ts, micros))
      // analyzer sometimes wraps the add in a no-op cast back to the ts type
      case Cast(TimestampAddInterval(ts, Literal(micros: Long, _: DayTimeIntervalType), _), dt, _, _)
          if dt == ts.dataType => Some((ts, micros))
      case _ => None
    }
  }

  /** Lower bound `r > l` / `r >= l` in either written order. */
  private def lowerBound(e: Expression): Option[(Expression, Expression)] = e match {
    case GreaterThan(r, l) => Some((l, r))
    case GreaterThanOrEqual(r, l) => Some((l, r))
    case LessThan(l, r) => Some((l, r))
    case LessThanOrEqual(l, r) => Some((l, r))
    case _ => None
  }

  /** Upper bound `r <= l + w` / `r < l + w` in either order: (l, r, w). */
  private def upperBound(e: Expression): Option[(Expression, Expression, Long)] = e match {
    case LessThanOrEqual(r, TsPlusLiteralInterval(l, w)) => Some((l, r, w))
    case LessThan(r, TsPlusLiteralInterval(l, w)) => Some((l, r, w))
    case GreaterThanOrEqual(TsPlusLiteralInterval(l, w), r) => Some((l, r, w))
    case GreaterThan(TsPlusLiteralInterval(l, w), r) => Some((l, r, w))
    case _ => None
  }

  private def sidesMatch(l: Expression, r: Expression,
      left: LogicalPlan, right: LogicalPlan): Boolean =
    l.references.nonEmpty && r.references.nonEmpty &&
      l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)

  private def hasEquiKey(conjuncts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        sidesMatch(a, b, left, right) || sidesMatch(b, a, left, right)
      case EqualNullSafe(a, b) =>
        sidesMatch(a, b, left, right) || sidesMatch(b, a, left, right)
      case _ => false
    }

  private def bandOf(ts: Expression, widthMicros: Long): Expression =
    IntegralDivide(UnixMicros(ts), Literal(widthMicros))

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) if j.resolved =>
      val conjuncts = splitConjunctivePredicates(cond)
      val interval: Option[(Expression, Expression, Long)] =
        if (hasEquiKey(conjuncts, left, right)) None
        else {
          val lowers = conjuncts.flatMap(lowerBound)
          conjuncts.flatMap(upperBound).collectFirst {
            case (l, r, w)
                if w > 0 && isBandableTs(l) && isBandableTs(r) &&
                  l.dataType == r.dataType &&
                  sidesMatch(l, r, left, right) &&
                  lowers.exists { case (l2, r2) =>
                    l2.semanticEquals(l) && r2.semanticEquals(r) } =>
              (l, r, w)
          }
        }
      interval match {
        case None => j
        case Some((lTs, rTs, w)) =>
          val lBand = bandOf(lTs, w)
          val bandArray = CreateArray(Seq(lBand, Add(lBand, Literal(1L))))
          val bandAttr = AttributeReference("_graft_band", LongType,
            nullable = bandArray.dataType.asInstanceOf[ArrayType].containsNull)()
          val gen = Generate(Explode(bandArray), unrequiredChildIndex = Nil,
            outer = false, qualifier = None,
            generatorOutput = Seq(bandAttr), child = left)
          val rBand = Alias(bandOf(rTs, w), "_graft_rband")()
          val rightP = Project(right.output :+ rBand, right)
          val newJoin = Join(gen, rightP, Inner,
            Some(And(EqualTo(bandAttr, rBand.toAttribute), cond)), hint)
          Project(j.output, newJoin)
      }
  }
}
