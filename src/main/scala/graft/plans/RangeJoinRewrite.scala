package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: an inner join whose only cross-side predicate is
  * range containment —
  *
  *   lo ≤ p AND p ≤ hi   (p from one side; lo, hi from the other;
  *                        no equi-join conjunct)
  *
  * — would be planned by Spark as BroadcastNestedLoopJoin: O(n·m) row
  * comparisons, the classic scale killer for interval joins. This rule
  * rewrites it into the binned form of [[graft.ops.RangeJoin]] at the
  * logical level: the bound side explodes to every fixed-width bin the
  * interval overlaps, the point side computes its single bin, and the
  * join becomes an equi-join on the bin plus the original predicate as
  * an exact refinement. Hash-shuffleable, AQE-skew-splittable.
  *
  * Wide-interval safety: bin explosion is data-dependent (an interval
  * spanning 10⁹ units at width 256 would explode to millions of rows),
  * so intervals whose bin span reaches `MaxBins` take a fallback branch
  * that keeps the original nested-loop join shape; the output is the
  * UNION of the two disjoint branches.
  *
  * Re-fire guard: this rule runs in a fixed-point batch, and the
  * fallback branch still contains the original range predicate, so the
  * rule must not rewrite its own fallback on the next iteration. The
  * guard is structural: the fallback's bound side carries a filter on
  * the interval's bin span (`hi div w - lo div w >= MaxBins`) — a shape
  * no user query produces and no optimizer rule erases (predicate
  * pushdown only moves it further down the same subtree) — and the rule
  * skips any join whose subtree contains that marker. Normalizing the
  * fallback's ≤/≥ to NOT(<)/NOT(>) was tried first and does NOT work:
  * `injectOptimizerRule` places this rule in the same fixed-point batch
  * as BooleanSimplification, which immediately un-normalizes the guard
  * and the batch burns its 100-iteration budget. The structural skip is
  * deliberately conservative — a second range join stacked directly on
  * top of a rewritten one is left un-rewritten rather than risking a
  * loop.
  *
  * Correctness notes: truncating integer division by a positive width
  * is monotone, so a contained point's bin always lies in
  * [lo div w, hi div w] — no candidate is lost, and a point has exactly
  * one bin so no match duplicates. Null or inverted (lo > hi) bounds
  * are filtered from both branches, matching BETWEEN's
  * unknown→no-match. The binned join carries an equi conjunct, so the
  * rule skips it on re-application. Restricted to integral types — no
  * ANSI-sensitive casts.
  *
  * Conf: `spark.graft.rangeJoin.binWidth` (default 256; pick near the
  * median interval length); an invalid value disables the rewrite
  * rather than break optimization. Injected via
  * [[graft.functions.GraftExtensions]].
  */
object RangeJoinRewrite {
  /** Idempotent registration on an already-built session (the
    * SparkSessionExtensions path needs the rule at build time;
    * extraOptimizations is the public post-hoc hook). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[RangeJoinRewrite]))
      spark.experimental.extraOptimizations = cur :+ RangeJoinRewrite()
  }
}

case class RangeJoinRewrite() extends Rule[LogicalPlan] with PredicateHelper {

  /** Intervals spanning this many bins or more take the wide branch. */
  private val MaxBins = 4096L

  private def binWidth: Option[Long] =
    try {
      val v = conf.getConfString("spark.graft.rangeJoin.binWidth", "256").toLong
      if (v > 0) Some(v) else None
    } catch { case _: NumberFormatException => None }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    binWidth match {
      case None => plan // invalid conf → leave every plan untouched
      case Some(w) => plan.transformUp {
        case j @ Join(left, right, Inner, Some(cond), _) =>
          val conjuncts = splitConjunctivePredicates(cond)
          val hasCrossEqui = conjuncts.exists {
            case EqualTo(a, b) =>
              (canEvaluate(a, left) && canEvaluate(b, right)) ||
                (canEvaluate(a, right) && canEvaluate(b, left))
            case _ => false
          }
          if (hasCrossEqui || hasWideMarker(left) || hasWideMarker(right)) j
          else findRange(conjuncts, left, right) match {
            case Some((point, lo, hi, pointOnLeft)) =>
              rewrite(j, point, lo, hi, pointOnLeft, w)
            case None => j
          }
      }
    }
  }

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The wide-branch filter this rule itself emits: bin-span ≥ MaxBins
    * over two integral divisions. Its presence anywhere in a join's
    * subtree marks that join as this rule's own fallback. */
  private def isWideMarker(e: Expression): Boolean = e match {
    case GreaterThanOrEqual(
        Subtract(_: IntegralDivide, _: IntegralDivide, _), _: Literal) => true
    case _ => false
  }

  private def hasWideMarker(plan: LogicalPlan): Boolean = plan.exists {
    case f: Filter =>
      splitConjunctivePredicates(f.condition).exists(isWideMarker)
    case _ => false
  }

  /** Normalize every ≤/≥ conjunct to `a ≤ b`, then find a pair
    * `lo ≤ p`, `p ≤ hi` where p is the same integral expression from
    * one join side and lo/hi both come from the other side. */
  private def findRange(conjuncts: Seq[Expression], left: LogicalPlan,
                        right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Boolean)] = {
    val les = conjuncts.collect {
      case LessThanOrEqual(a, b) => (a, b)
      case GreaterThanOrEqual(a, b) => (b, a)
    }.filter { case (a, b) => isIntegral(a) && isIntegral(b) }
    val sides = Seq(true, false)
    (for {
      pointOnLeft <- sides.iterator
      (pointChild, boundChild) =
        if (pointOnLeft) (left, right) else (right, left)
      (lo, p1) <- les
      // require real attribute references on both roles — literal-only
      // bounds/points are single-side predicates the optimizer has
      // already pushed below the join (nothing to rewrite)
      if p1.references.nonEmpty && canEvaluate(p1, pointChild) &&
        lo.references.nonEmpty && canEvaluate(lo, boundChild)
      (p2, hi) <- les
      if p1.semanticEquals(p2) &&
        hi.references.nonEmpty && canEvaluate(hi, boundChild)
    } yield (p1, lo, hi, pointOnLeft)).nextOption()
  }

  private def rewrite(j: Join, point: Expression, lo: Expression,
                      hi: Expression, pointOnLeft: Boolean,
                      binWidth: Long): LogicalPlan = {
    val w = Literal(binWidth, LongType)
    def toLong(e: Expression): Expression =
      if (e.dataType == LongType) e else Cast(e, LongType)
    val (pointChild, boundChild) =
      if (pointOnLeft) (j.left, j.right) else (j.right, j.left)
    val loBin = IntegralDivide(toLong(lo), w)
    val hiBin = IntegralDivide(toLong(hi), w)
    // valid (lo ≤ hi; null-free — null bounds match nothing) intervals,
    // split by bin span. sequence(lo, hi, 1) throws when hi < lo, and an
    // unbounded span would explode to millions of generated rows.
    // span < MaxBins → at most MaxBins exploded bins (span+1); span ≥
    // MaxBins is also the re-fire marker shape isWideMarker recognizes.
    val valid = LessThanOrEqual(lo, hi)
    val narrow = And(valid,
      LessThan(Subtract(hiBin, loBin), Literal(MaxBins, LongType)))
    val wide = And(valid,
      GreaterThanOrEqual(Subtract(hiBin, loBin), Literal(MaxBins, LongType)))

    // binned branch: explode narrow intervals to their bins, equi-join
    val pBin = Alias(IntegralDivide(toLong(point), w), "__graft_bin")()
    val pointProj = Project(pointChild.output :+ pBin, pointChild)
    val binAttr = AttributeReference("__graft_bin", LongType,
      nullable = true)()
    val seq = Sequence(loBin, hiBin, Some(Literal(1L, LongType)),
      Some(conf.sessionLocalTimeZone))
    val boundGen = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binAttr),
      child = Filter(narrow, boundChild))
    val (binnedL, binnedR) =
      if (pointOnLeft) (pointProj, boundGen) else (boundGen, pointProj)
    val binned = Project(j.output,
      Join(binnedL, binnedR, Inner,
        Some(And(EqualTo(pBin.toAttribute, binAttr), j.condition.get)),
        j.hint))

    // fallback branch: wide intervals keep the nested-loop shape with
    // the original condition; the `wide` filter below is the structural
    // marker that stops this rule from re-firing on it.
    val (fallL, fallR) =
      if (pointOnLeft) (pointChild, Filter(wide, boundChild))
      else (Filter(wide, boundChild), pointChild)
    val fallback = Project(j.output,
      Join(fallL, fallR, Inner, j.condition, j.hint))

    Union(Seq(binned, fallback))
  }
}
