package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DateType, Decimal, NumericType, TimestampNTZType, TimestampType}
import graft.census.Normalize.SentinelCeiling

/** Census sentinel-cleaning pushdown (SURVEY §4.2, §1.2 semantics —
  * `/root/reference/README.md` suppressed-value sentinels, e.g.
  * `-666666666`): [[graft.census.Normalize.sentinelToNull]] cleans with
  * `CASE WHEN c <= -600000000 THEN NULL ELSE c END`, and a filter over
  * the CLEANED column (`clean IS NOT NULL`, `clean > 100`, ...) hides a
  * plain raw-column predicate inside a CaseWhen that neither Spark's
  * `DataSourceStrategy` translation nor parquet row-group stats can
  * see — the scan reads everything. This rule recognizes the exact
  * cleaning tree wherever it appears in a `Filter` and rewrites:
  *
  *  - `IsNotNull(clean(c))`   → `IsNotNull(c) AND c > thr`
  *  - `IsNull(clean(c))`      → `IsNull(c) OR c <= thr`
  *  - `clean(c) cmp v`        → `(c cmp v) AND c > thr`
  *
  * all plain comparisons that the SAME fixed-point batch's stock
  * pushdown rules then carry into the scan (`PushedFilters`, pinned in
  * `GraftExtensionsSpec`). The comparison rewrite is valid only where
  * NULL and FALSE coincide, so it is applied to AND/OR-reachable
  * positions of a Filter condition and never descends under `Not` or
  * null-sensitive ops (`<=>` is excluded). Injected via
  * `graft.GraftExtensions` — the production config path, no per-session
  * registration.
  */
object SentinelCleanOptimization extends Rule[LogicalPlan] {

  @scala.annotation.tailrec
  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case _ => e
  }

  private def isSentinelLit(v: Any): Boolean = v match {
    case d: Decimal => d.toBigDecimal <= BigDecimal(SentinelCeiling)
    case n: java.lang.Number => n.longValue() <= SentinelCeiling
    case _ => false
  }

  /** The rewrite replaces predicates over `cast(raw)` with predicates
    * over `raw` itself, which is only sound when coercion cannot turn a
    * clean value into NULL: numeric/temporal raw columns widen
    * losslessly for the sentinel comparison, but e.g. a STRING raw
    * column coerced numerically makes `cast(c)` NULL for non-numeric
    * text — the clean value is NOT NULL (the else branch returns `c`)
    * while a rewritten `IsNotNull(c) AND c > thr` coerces back to
    * false, silently dropping rows. Gate every sentinel match on a
    * numeric/temporal pre-cast type (r9 ADVICE). */
  private def cleanableType(raw: Expression): Boolean =
    stripCast(raw).dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }

  /** Matches the tree [[graft.census.Normalize.sentinelToNull]] builds
    * (modulo the casts type coercion inserts): returns (raw, threshold
    * literal's comparison). */
  private object SentinelClean {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case CaseWhen(Seq((LessThanOrEqual(a, l @ Literal(v, _)), Literal(null, _))), Some(b))
          if isSentinelLit(v) && cleanableType(a) &&
            stripCast(a).semanticEquals(stripCast(b)) =>
        Some((a, l))
      case _ => None
    }
  }

  private def sameCol(a: Expression, b: Expression): Boolean =
    stripCast(a).semanticEquals(stripCast(b))

  /** The shape Spark's own NullPropagation leaves AFTER it pushes a
    * null-rejecting predicate into the cleaning CaseWhen (this usually
    * wins the race inside the shared fixed-point batch):
    * `CASE WHEN raw <= thr THEN false ELSE pred END` with pred an
    * IsNotNull / comparison over the same raw column. */
  private object SentinelFalseCase {
    def unapply(e: Expression): Option[(Expression, Expression, Expression)] = e match {
      case CaseWhen(Seq((LessThanOrEqual(a, l @ Literal(v, _)), Literal(false, BooleanType))), Some(pred))
          if isSentinelLit(v) && cleanableType(a) && predOverRaw(pred, a) =>
        Some((a, l, pred))
      case _ => None
    }
    // the raw-null column case is what makes the And-rewrite sound:
    // these pred shapes are never TRUE when raw is null
    private def predOverRaw(pred: Expression, raw: Expression): Boolean = pred match {
      case IsNotNull(x) => sameCol(x, raw)
      case _: EqualNullSafe => false
      case cmp: BinaryComparison => sameCol(cmp.left, raw) || sameCol(cmp.right, raw)
      case _ => false
    }
  }

  /** Rewrite one null-rejecting comparison; `EqualNullSafe` is
    * null-SENSITIVE (`clean <=> v` is true for sentinel rows when v is
    * null) and must not be touched. */
  private def rewriteCmp(cmp: BinaryComparison): Expression = cmp match {
    case _: EqualNullSafe => cmp
    case _ => (cmp.left, cmp.right) match {
      case (SentinelClean(raw, thr), r) =>
        And(cmp.withNewChildren(Seq(raw, r)), GreaterThan(raw, thr))
      case (l, SentinelClean(raw, thr)) =>
        And(cmp.withNewChildren(Seq(l, raw)), GreaterThan(raw, thr))
      case _ => cmp
    }
  }

  /** Descend only through AND/OR — positions where a Filter treats NULL
    * exactly like FALSE, which is what makes the rewrite sound. */
  private def rewrite(e: Expression): Expression = e match {
    case And(l, r) => And(rewrite(l), rewrite(r))
    case Or(l, r) => Or(rewrite(l), rewrite(r))
    // `raw` is kept as-is (casts included): stripping them would change
    // non-ANSI null-production semantics; when raw is a bare attribute
    // (the pushdown-relevant case) there is nothing to strip anyway
    case IsNotNull(SentinelClean(raw, thr)) =>
      And(IsNotNull(raw), GreaterThan(raw, thr))
    case IsNull(SentinelClean(raw, thr)) =>
      Or(IsNull(raw), LessThanOrEqual(raw, thr))
    // NullPropagation-folded forms of the same predicates
    case SentinelFalseCase(raw, thr, pred) =>
      And(pred, GreaterThan(raw, thr))
    case CaseWhen(Seq((LessThanOrEqual(a, l @ Literal(v, _)), Literal(true, BooleanType))), Some(IsNull(x)))
        if isSentinelLit(v) && cleanableType(a) && sameCol(x, a) =>
      Or(IsNull(x), LessThanOrEqual(a, l))
    case cmp: BinaryComparison => rewriteCmp(cmp)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = rewrite(cond)
      if (rewritten.fastEquals(cond)) f else Filter(rewritten, child)
  }
}
