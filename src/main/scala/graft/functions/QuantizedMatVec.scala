package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Floor-quantize + integer matrix–vector product against a LITERAL
  * matrix — the codegen kernel behind the JL random projection (q122)
  * and the snapped-basis PCA projection (q124). Output element j is
  *
  *   out_j = Σ_d M(j,d) · (q_d · mulN − shift_d),   q_d = ⌊x_d · 2^scaleBits⌋
  *
  * with mulN = 1 and shift = 0 for the plain projection, and
  * mulN = n (corpus count), shift = per-dim sums for the mean-centered
  * PCA form.
  *
  * Why a kernel: the HOF forms (kept as `Projection.projectIntHof` /
  * `Pca.pcaProjectSnappedHof`, the executable specifications, pinned by
  * MatVecKernelSpec) evaluate one interpreted lambda frame per MATRIX
  * CELL per corpus row — outDims·inDims frames plus outDims zipped-array
  * allocations (16×64 ≈ 1k frames/row at the defaults), the exact shape
  * round 14 measured at 8.5–60× on the nearest-cell twin (SCALE_AUDIT
  * "the integer nearest-cell assignment kernel'd"), and the reason
  * growing outDims (the projection family's fidelity knob) scaled
  * interpreted cost linearly. Here it is
  * two tight loops: one quantize pass into a stack long[], then
  * outDims·inDims long multiply-adds.
  *
  * BIT-EXACT with the HOF forms: q_d is `(long) Math.floor(x·scale)` —
  * Spark's Floor-on-double semantics (NaN → 0), identical op sequence;
  * every remaining step is int64 arithmetic, exact and overflow-free
  * under the documented magnitude bounds (|x| ≤ 1 embeddings, 2^12
  * snap entries — see pcaProjectSnapped), folded here in the HOF's own
  * index order anyway. OUT of those bounds (±∞ inputs, oversized
  * corpora) the HOF throws under ANSI long-multiply checking while
  * this kernel wraps mod 2^64 — no defined behavior to match, pinned
  * as out-of-contract in MatVecKernelSpec. Fixed-dimension, non-null
  * contract (the vector-family convention): each term loop folds
  * min(|v|, inDims) terms — the full width under the contract; a null
  * ARRAY → null.
  *
  * Scale: per-row cost is O(outDims·inDims) long ops, zero shuffle; the
  * matrix rides the codegen references array once per plan (the HOF
  * inlined outDims separate inDims-entry literal trees into the plan).
  */
case class QuantizedMatVec(child: Expression, matrix: Seq[Seq[Long]],
                           scaleBits: Int, mulN: Long, shift: Seq[Long])
    extends UnaryExpression {
  require(matrix.nonEmpty, "matvec needs a matrix")
  require(scaleBits >= 0 && scaleBits <= 62, s"bad scaleBits $scaleBits")
  require(shift.isEmpty || shift.length == matrix.head.length,
    "shift must be empty (zeros) or one entry per input dim")

  @transient private lazy val m: Array[Array[Long]] =
    matrix.map(_.toArray).toArray
  @transient private lazy val sh: Array[Long] =
    if (shift.isEmpty) new Array[Long](matrix.head.length)
    else shift.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_quantized_matvec"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    QuantizedMatVec.matvec(v.asInstanceOf[ArrayData], m,
      (1L << scaleBits).toDouble, mulN, sh)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val mr = ctx.addReferenceObj("matrix", m, "long[][]")
    val sr = ctx.addReferenceObj("shift", sh, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.QuantizedMatVec.matvec(
         |  $c, $mr, (double) (1L << $scaleBits), ${mulN}L, $sr);""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): QuantizedMatVec = copy(child = newChild)
}

object QuantizedMatVec {

  def matvec(v: ArrayData, m: Array[Array[Long]], scale: Double,
             mulN: Long, shift: Array[Long]): ArrayData = {
    val inDims = m(0).length
    val n = math.min(v.numElements(), inDims)
    // quantize + center once per row, reused by every output dim
    val t = new Array[Long](n)
    var d = 0
    while (d < n) {
      t(d) = java.lang.Math.floor(v.getDouble(d) * scale).toLong *
        mulN - shift(d)
      d += 1
    }
    val out = new Array[Long](m.length)
    var j = 0
    while (j < m.length) {
      val row = m(j)
      var acc = 0L
      var i = 0
      while (i < n) { acc += row(i) * t(i); i += 1 }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
}
