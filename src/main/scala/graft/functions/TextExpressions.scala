package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All gate features of a document in ONE straight-line scan — the
  * corpus funnel's hottest expression (graft.text.TextAnalysis
  * .gateFeatures): element s of the result is the number of tokens
  * matching slot s's marker list (languages + the stopword slot), then
  * the token count, then the [A-Za-z] character count.
  *
  * Why an expression and not the fused `aggregate` fold: higher-order
  * functions are CodegenFallback — the fold evaluated interpreted, one
  * lambda frame per token, and round-10 measurement left it at 40% of
  * the sf10 funnel (35.3 s of 87.0) even after fusing five HOF filters
  * into one. This is the [[SignLshSignatures]] treatment applied to
  * text: the marker table enters codegen as one `addReferenceObj`
  * String[][] and the whole scan is a static-method call inside
  * whole-stage codegen.
  *
  * Value identity with the built-in tree it replaces (0 mismatches,
  * SCALE_AUDIT "gate-features as a codegen expression"): tokenization
  * is literally
  * `lower → trim → Java-regex split "\\s+" limit −1` — the same
  * UTF8String.toLowerCase / .trim methods Lower/StringTrim call and
  * the same Pattern.split semantics StringSplit delegates to; a token
  * counts once per slot if it equals ANY marker in that slot; the
  * alpha count walks raw UTF-8 bytes ([A-Za-z] bytes only ever encode
  * those ASCII letters — continuation/lead bytes are ≥ 0x80), exactly
  * `length(text) − length(translate(text, letters, ''))`. */
case class GateCounts(child: Expression, slots: Seq[Seq[String]])
    extends UnaryExpression {
  require(slots.nonEmpty && slots.forall(_.nonEmpty),
    "marker slots must be non-empty")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gate_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }

  @transient private lazy val slotsArr: Array[Array[String]] =
    slots.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      GateCounts.scan(input.asInstanceOf[UTF8String], slotsArr))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val sl = ctx.addReferenceObj("gateSlots", slotsArr,
        "java.lang.String[][]")
      s"""
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    graft.functions.GateCounts.scan($t, $sl));
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): GateCounts = copy(child = newChild)
}

object GateCounts {
  /** The exact whitespace class `split(_, "\\s+")` uses. */
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** One pass over the document: per-slot marker hits, token count,
    * alpha count — layout [hits_0 … hits_{s−1}, n_tokens, n_alpha]. */
  def scan(text: UTF8String, slots: Array[Array[String]]): Array[Long] = {
    val out = new Array[Long](slots.length + 2)
    val toks = Ws.split(text.toLowerCase().trim().toString, -1)
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      var s = 0
      while (s < slots.length) {
        val ms = slots(s)
        var m = 0
        var hit = false
        while (m < ms.length && !hit) {
          if (tok.equals(ms(m))) { out(s) += 1L; hit = true }
          m += 1
        }
        s += 1
      }
      t += 1
    }
    out(slots.length) = toks.length.toLong
    var alpha = 0L
    var i = 0
    val nb = text.numBytes()
    while (i < nb) {
      val b = text.getByte(i)
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) alpha += 1L
      i += 1
    }
    out(slots.length + 1) = alpha
    out
  }
}

/** The repo-wide text-normalization kernel — byte-exact twin of
  * `trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""),
  * " +", " "))`, the inner loop of the entire dedup/text family
  * (hash keys, shingles, token streams — 19 call sites). The regex
  * chain walks the document three times through the regex engine plus
  * a lower and a trim; this is ONE straight-line byte scan inside
  * whole-stage codegen. Measured at sf10: the classify tf tokenize
  * alone was 527 CPU-s with the regex chain.
  *
  * Byte-level equivalence argument: after UTF8String.toLowerCase (the
  * exact method Lower delegates to), every byte of a multibyte UTF-8
  * sequence is ≥ 0x80, so "keep [a-z0-9 ] bytes" drops exactly the
  * characters the regex class drops (the regex works per code point;
  * dropping all bytes of a code point == dropping the code point, and
  * kept bytes are single-byte code points). Space collapsing and trim
  * are then positional on the kept bytes — identical to the " +"
  * replace plus trim. Pinned against the regex form by
  * NormalizeKernelSpec (property-based + the real corpus). */
object TextNormalize {
  /** Normalized bytes; shared by both expression forms. */
  def normalize(text: UTF8String): UTF8String = {
    val b = text.toLowerCase
    val n = b.numBytes
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = b.getByte(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = c
        o += 1
      } else if (c == ' ') pendingSpace = true
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  /** [[normalize]] with tokens in `skip` dropped, single-space
    * re-joined — the noise-token prelude to exact dedup, in the same
    * one scan. Equivalence to the regex form it replaces
    * (`trim(regexp_replace(regexp_replace(normalize(c),
    * "\\b(noise)\\b", ""), " +", " "))`, for noise words that are
    * single normalized tokens `[a-z0-9]+`): the normalized alphabet is
    * `[a-z0-9 ]`, all of whose non-space members are regex word
    * characters, so `\b` boundaries fall exactly at token edges and
    * `\b(noise)\b` deletes whole tokens equal to a noise word and
    * nothing else; the subsequent space-collapse + trim is precisely a
    * single-space re-join of the kept tokens. Pinned against the kept
    * regex form by NormalizeKernelSpec. */
  def normalizeDrop(text: UTF8String,
                    skip: java.util.HashSet[UTF8String]): UTF8String = {
    val ts = tokens(text)
    val kept = new Array[UTF8String](ts.length)
    var k = 0
    var i = 0
    while (i < ts.length) {
      if (!skip.contains(ts(i))) { kept(k) = ts(i); k += 1 }
      i += 1
    }
    UTF8String.concatWs(Space, java.util.Arrays.copyOf(kept, k): _*)
  }

  private val Space = UTF8String.fromString(" ")

  /** split(normalize(text), " ") — token slices of the normalized
    * bytes (pure ASCII by construction, so byte offsets are exact);
    * [""] for an empty normalization (Java split semantics). */
  def tokens(text: UTF8String): Array[UTF8String] = {
    val bytes = normalize(text).getBytes
    val n = bytes.length
    if (n == 0) return Array(UTF8String.EMPTY_UTF8)
    var count = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' ') count += 1; i += 1 }
    val out = new Array[UTF8String](count)
    var start = 0
    var t = 0
    i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        out(t) = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, start, i))
        t += 1
        start = i + 1
      }
      i += 1
    }
    out
  }
}

/** `normalize(text)` as one codegen'd scan — see [[TextNormalize]]. */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TextNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextNormalize.normalize($t);")

  override protected def withNewChildInternal(
      newChild: Expression): NormalizeText = copy(child = newChild)
}

/** `normalizeDrop(text, noise)` as one codegen'd scan — normalization
  * plus noise-token stripping (boilerplate, watermarks) for the exact
  * dedup key; see [[TextNormalize.normalizeDrop]] for the equivalence
  * argument vs the regex form. Noise words must already be normalized
  * single tokens — anything else would silently diverge from the
  * `\b(noise)\b` regex semantics, so it is rejected up front. */
case class NormalizeDropText(child: Expression, noise: Seq[String])
    extends UnaryExpression {
  require(noise.nonEmpty &&
    noise.forall(n => n.nonEmpty && n.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))),
    "noise tokens must be non-empty normalized words [a-z0-9]+")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_drop"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }

  @transient private lazy val skipSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](noise.size * 2)
    noise.foreach(n => s.add(UTF8String.fromString(n)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    TextNormalize.normalizeDrop(input.asInstanceOf[UTF8String], skipSet)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val set = ctx.addReferenceObj("noiseSet", skipSet,
        "java.util.HashSet")
      s"${ev.value} = graft.functions.TextNormalize.normalizeDrop($t, $set);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): NormalizeDropText = copy(child = newChild)
}

/** `split(normalize(text), " ")` as one codegen'd scan — the token
  * stream every explode-based text operator rides. */
case class NormalizedTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextNormalize.tokens(input.asInstanceOf[UTF8String])
        .asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    graft.functions.TextNormalize.tokens($t));
       """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): NormalizedTokens = copy(child = newChild)
}

/** Column-API wrappers for the text expressions. */
object TextFunctions {
  def gate_counts(text: Column, slots: Seq[Seq[String]]): Column =
    Bridge.column(GateCounts(Bridge.expression(text), slots))

  def normalize_text(text: Column): Column =
    Bridge.column(NormalizeText(Bridge.expression(text)))

  def normalize_drop(text: Column, noise: Seq[String]): Column =
    Bridge.column(NormalizeDropText(Bridge.expression(text), noise))

  def normalized_tokens(text: Column): Column =
    Bridge.column(NormalizedTokens(Bridge.expression(text)))
}
