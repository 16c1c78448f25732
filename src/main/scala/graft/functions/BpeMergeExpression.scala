package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BPE merge application against a LITERAL rule list — the codegen
  * kernel behind `text/Bpe`'s merge passes (round 16). The HOF forms
  * (kept as `Bpe.mergePassHof` / `mergePassMultiHof`, the executable
  * specifications, pinned by BpeKernelSpec) run an interpreted
  * `aggregate` fold whose state is a (output-array, pending-symbol)
  * struct: one lambda frame + an `array_append` COPY OF THE WHOLE
  * OUTPUT ARRAY per symbol per word — O(len²) allocation per word on
  * top of the interpreter tax. The cost is per-WORD over the
  * distinct-word vocabulary frame, and vocabulary grows with the
  * corpus (Heaps: types ~ n^β) — measured (SCALE_AUDIT "BPE training
  * stressed at grown vocabulary"): corpus
  * axis flat (10× docs at fixed vocab → 1.0×), vocab axis linear
  * (10k → 100k → 1M types: 2.6 → 5.9 → 26.0 s for a 10-merge train),
  * exactly the corpus-soft share the r15 adjudication under-called.
  *
  * Two modes, matching the two HOF shapes bit for bit:
  *
  *  - `sequential = false` — ONE left-to-right greedy pass testing
  *    each (pending, x) position against every rule in order (at most
  *    one can match when the rules are symbol-disjoint, the
  *    selectBatch guarantee): `mergePassMulti`'s nested-when fold.
  *    Training applies each selected batch this way.
  *  - `sequential = true` — one full greedy pass PER RULE in rank
  *    order: exactly the `mergeList.foldLeft(mergePass)` composition
  *    the encode path runs (which chained mergeList.size interpreted
  *    aggregates, each copying the array per element).
  *
  * Greedy semantics per pass, identical to the HOF: a freshly merged
  * token never re-merges in the same pass (pending resets), matching
  * reference BPE. Null symbol ARRAY → null. The call sites produce
  * non-null elements by construction (char split of a non-null word),
  * but the input TYPE is array<string> with containsNull = true
  * (split's declared type), so a null ELEMENT is handled the way the
  * HOF fold handled it rather than NPE'ing: the null-conditioned
  * `when` falls to the otherwise branch, which flushes any pending
  * symbol and makes the null the new pending — a pending null never
  * matches a rule and `flush` treats it as "nothing pending", so the
  * null is DROPPED and acts as a merge barrier. Output therefore
  * honors containsNull = false (pinned vs the HOF in BpeKernelSpec).
  */
case class BpeMergePass(child: Expression, rules: Seq[(String, String)],
                        sequential: Boolean) extends UnaryExpression {
  require(rules.nonEmpty, "merge pass needs at least one rule")

  @transient private lazy val ls: Array[UTF8String] =
    rules.map(r => UTF8String.fromString(r._1)).toArray
  @transient private lazy val rs: Array[UTF8String] =
    rules.map(r => UTF8String.fromString(r._2)).toArray
  @transient private lazy val lrs: Array[UTF8String] =
    rules.map(r => UTF8String.fromString(r._1 + r._2)).toArray

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_merge_pass"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> symbols, got ${t.simpleString}")
  }

  override def nullSafeEval(symbols: Any): Any =
    BpeMergePass.merge(symbols.asInstanceOf[ArrayData], ls, rs, lrs,
      sequential)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("ls", ls, "UTF8String[]")
    val r = ctx.addReferenceObj("rs", rs, "UTF8String[]")
    val lr = ctx.addReferenceObj("lrs", lrs, "UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeMergePass.merge(" +
        s"$c, $l, $r, $lr, $sequential);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeMergePass = copy(child = newChild)
}

object BpeMergePass {

  def merge(symbols: ArrayData, ls: Array[UTF8String],
            rs: Array[UTF8String], lrs: Array[UTF8String],
            sequential: Boolean): ArrayData = {
    var cur = new Array[UTF8String](symbols.numElements())
    var n = cur.length
    var i = 0
    while (i < n) { cur(i) = symbols.getUTF8String(i); i += 1 }
    if (sequential) {
      var k = 0
      while (k < ls.length) {
        n = onePass(cur, n, ls, rs, lrs, k, k + 1)
        k += 1
      }
    } else n = onePass(cur, n, ls, rs, lrs, 0, ls.length)
    val out = new Array[AnyRef](n)
    i = 0
    while (i < n) { out(i) = cur(i); i += 1 }
    new GenericArrayData(out)
  }

  /** One greedy left-to-right non-overlapping pass testing rules
    * [from, until) at each position; rewrites `cur` in place (output
    * never outruns the read cursor) and returns the new length. */
  private def onePass(cur: Array[UTF8String], n: Int,
                      ls: Array[UTF8String], rs: Array[UTF8String],
                      lrs: Array[UTF8String], from: Int,
                      until: Int): Int = {
    var len = 0
    var pending: UTF8String = null
    var i = 0
    while (i < n) {
      val x = cur(i)
      var merged: UTF8String = null
      if (pending != null && x != null) {
        var k = from
        while (merged == null && k < until) {
          if (pending.equals(ls(k)) && x.equals(rs(k))) merged = lrs(k)
          k += 1
        }
      }
      if (merged != null) {
        cur(len) = merged; len += 1; pending = null
      } else {
        if (pending != null) { cur(len) = pending; len += 1 }
        pending = x
      }
      i += 1
    }
    if (pending != null) { cur(len) = pending; len += 1 }
    len
  }
}
