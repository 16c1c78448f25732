package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Float nearest-cell assignment against a LITERAL model — the float
  * twin of [[NearestCellsInt]], closing round 14's top finding: the
  * interpreted `transform(typedLit(cents), c -> struct(score, -i))` +
  * `array_max`/`array_sort` chain still ran on every q104/q108 corpus
  * row, every `ivfTopKTrained` corpus row (q27), once per Lloyd
  * iteration over the whole training frame, and on every
  * SemanticIngestJob batch — the EXACT pattern SCALE_AUDIT "the integer
  * nearest-cell assignment kernel'd" measured at 8.5–60× slower than
  * the codegen kernel on the integer family (cells=64: 84 s
  * interpreted vs 1.41 s kernel'd, sf10).
  *
  * BIT-EXACT with the HOF forms it replaces (kept as
  * `Similarity.nearestCellHof` / `nearestCellL2Hof` /
  * `SemanticDedup.nearest2CellsHof`, the executable specifications,
  * pinned by NearestCellFloatKernelSpec):
  *
  *  - cosine score: the same IEEE op sequence as the codegen'd
  *    [[CosineSimilarity]] the HOF composes — dot, |v|², |c|²
  *    accumulated left-to-right over min(|v|, |c|) terms, combined as
  *    dot/(√|v|²·√|c|²). Hoisting |v|² out of the cell loop reuses the
  *    identical accumulated value, so the per-cell score is unchanged
  *    bit for bit;
  *  - L2 score: −aggregate(zip_with(v, c, (x,y) -> (x−y)·(x−y)), 0.0, +)
  *    — a left-to-right double fold a Java loop reproduces exactly;
  *    the final negation is an exact IEEE op;
  *  - argmax ordering: Spark compares DoubleType with
  *    `java.lang.Double.compare` semantics (NaN greatest, NaN = NaN,
  *    −0.0 < 0.0 — Scala's TotalOrdering); iterating cells in index
  *    order with a STRICT `compare(s, best) > 0` keeps the lower index
  *    on equal score, exactly `array_max(struct(s, -i))` picking the
  *    larger `-i`. A zero vector or zero centroid makes cosine NaN,
  *    which array_max ranks above every real score — the scan
  *    reproduces that too (adversarially pinned);
  *  - take2: elements 1 and 2 of the descending (s, -i) sort — higher
  *    score first, ties to the lower index; a single-cell model yields
  *    a 1-element array (the HOF's `size < 2` branch).
  *
  * Fixed-dimension, non-null contract (as everywhere in the vector
  * family): vectors and centroids share the first row's dims and carry
  * no null elements — the scan folds min(|v|, |c|) terms via
  * `getDouble`, which is the full width under the contract. A null
  * ARRAY → null (UnaryExpression null handling).
  *
  * Scale: O(cells·dims) double ops per row, |v|² computed once per row,
  * no allocation beyond the take2 result pair. The literal model rides
  * the codegen references array once per plan, not once per row — and
  * not as a typedLit literal tree, so big models no longer bloat the
  * plan either.
  */
case class NearestCellsFloat(child: Expression, cents: Seq[Seq[Double]],
                             l2: Boolean, take2: Boolean)
    extends UnaryExpression {
  require(cents.nonEmpty, "nearest-cell assignment needs a model")

  @transient private lazy val model: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def dataType: DataType =
    if (take2) ArrayType(IntegerType, containsNull = false)
    else IntegerType
  override def prettyName: String =
    (if (take2) "graft_nearest2_cells_float" else "graft_nearest_cell_float") +
      (if (l2) "_l2" else "")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> vectors, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (take2) NearestCellsFloat.nearest2(a, model, l2)
    else NearestCellsFloat.nearest(a, model, l2)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cents", model, "double[][]")
    val fn = if (take2) "nearest2" else "nearest"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NearestCellsFloat.$fn($c, $m, $l2);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCellsFloat = copy(child = newChild)
}

object NearestCellsFloat {

  /** |v|² accumulated left-to-right over the full vector — the HOF's
    * cosine denominator term, identical per cell, computed once. */
  private def normSq(v: ArrayData): Double = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    s
  }

  /** Score of centroid `cent` for vector `v` under the argMAX
    * convention: cosine, or the NEGATED squared L2 (the HOF's unary_-),
    * both with the HOF's exact accumulation order. */
  private def score(v: ArrayData, cent: Array[Double], l2: Boolean,
                    nv: Double): Double = {
    val n = math.min(v.numElements(), cent.length)
    if (l2) {
      var d = 0.0
      var i = 0
      while (i < n) {
        val diff = v.getDouble(i) - cent(i)
        d += diff * diff
        i += 1
      }
      -d
    } else {
      var dot = 0.0
      var nc = 0.0
      var i = 0
      while (i < n) {
        val xv = v.getDouble(i)
        val yv = cent(i)
        dot += xv * yv; nc += yv * yv
        i += 1
      }
      dot / (math.sqrt(nv) * math.sqrt(nc))
    }
  }

  /** Index of the best-scoring centroid under Spark's double ordering
    * (NaN greatest); ties → lowest index. */
  def nearest(v: ArrayData, cents: Array[Array[Double]],
              l2: Boolean): Int = {
    val nv = if (l2) 0.0 else normSq(v)
    var best = 0
    var bestS = score(v, cents(0), l2, nv)
    var j = 1
    while (j < cents.length) {
      val s = score(v, cents(j), l2, nv)
      if (java.lang.Double.compare(s, bestS) > 0) { bestS = s; best = j }
      j += 1
    }
    best
  }

  /** The two best-scoring centroids, descending (score, −index) —
    * element 0 is exactly [[nearest]]'s pick; 1-element array for a
    * single-cell model. */
  def nearest2(v: ArrayData, cents: Array[Array[Double]],
               l2: Boolean): ArrayData = {
    val nv = if (l2) 0.0 else normSq(v)
    if (cents.length < 2)
      return new GenericArrayData(Array[Int](0))
    var i1 = 0
    var s1 = score(v, cents(0), l2, nv)
    var i2 = 1
    var s2 = score(v, cents(1), l2, nv)
    if (java.lang.Double.compare(s2, s1) > 0) {
      val ts = s1; s1 = s2; s2 = ts; i1 = 1; i2 = 0
    }
    var j = 2
    while (j < cents.length) {
      val s = score(v, cents(j), l2, nv)
      if (java.lang.Double.compare(s, s1) > 0) {
        s2 = s1; i2 = i1; s1 = s; i1 = j
      } else if (java.lang.Double.compare(s, s2) > 0) { s2 = s; i2 = j }
      j += 1
    }
    new GenericArrayData(Array[Int](i1, i2))
  }
}
