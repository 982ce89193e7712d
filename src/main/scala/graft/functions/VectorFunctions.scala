package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Native Catalyst expression for the float-vector dot product — the
  * hot inner loop of similarity search (SURVEY §2.2 Q13/Q16-Q17).
  *
  * The composable alternative (`aggregate(zip_with(...))`) evaluates
  * interpreted lambdas with per-element boxing; this expression
  * participates in whole-stage codegen as a tight primitive loop over
  * the columnar array data — ~2 orders of magnitude less overhead on
  * a 64-dim embedding, which is what makes brute-force scoring viable
  * as the exact baseline at scale.
  *
  * Accumulation is a sequential left-to-right double fold — the same
  * order as the interpreted form and the DuckDB oracle, so results are
  * bit-identical.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  // analysis-time typing: non-float arrays (e.g. array<double> or
  // array<int> literals) are coerced, anything non-array is rejected
  // with a clear AnalysisException instead of a codegen ClassCastException.
  // (Declared as Seq[DataType] — a covariant override — because
  // AbstractDataType itself is private[sql] in Spark 4's Scala signature.)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen rolling hash over a string's code points:
  * `acc = (acc * 31 + codePoint) % 2147483647`, the q38 document
  * fingerprint. Replaces the composable
  * `aggregate(split(text, ''), ...)` form, whose higher-order lambda
  * evaluates INTERPRETED per character with a per-element array slot —
  * this expression is a tight primitive loop inside whole-stage
  * codegen. Semantics match the lambda form exactly (split('') keeps
  * surrogate pairs together, ascii() yields the code point — so:
  * iterate CODE POINTS), which RollingHashSpec proves by equivalence.
  */
case class RollingHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  // non-string arguments are coerced (or rejected) during analysis,
  // matching the lambda form it replaced (which implicit-cast via ascii)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val acc = ctx.freshName("acc")
      s"""
         |java.lang.String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % 2147483647L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Shared fixed-point vector arithmetic of the q113/q114/q117/q119
  * family (round-16 optimization): one quantization definition —
  * `round(x.toDouble * 2^scaleBits)` with Spark's Round semantics
  * (BigDecimal.valueOf, HALF_UP), cast to long — used by all three
  * native expressions below so the fused forms cannot drift from the
  * composable `transform(c, x -> round(x * s) cast long)` they
  * replaced (VectorFixedPointSpec pins row-for-row equivalence).
  */
private[graft] object VecFx {
  /** Primitive HALF_UP: Spark `Round` semantics without the per-
    * element BigDecimal (round 16 kept `BigDecimal.valueOf ∘
    * setScale(0, HALF_UP)` for exactness; that allocation was the
    * dominant per-element cost of the k-means family). Equivalence
    * argument: `d = x.toDouble * 2^k` is EXACT (float→double is
    * exact, a power-of-two scale only shifts the exponent), so for
    * finite `|d| < 2^53` both `floor(d)` and `d - floor(d)` are
    * exact, and the decimal string BigDecimal.valueOf rounds is on
    * the same side of `n + 0.5` as the binary value (n + 0.5 is
    * itself representable, and a shortest round-trip decimal cannot
    * cross a representable value). `frac == 0.5` rounds away from
    * zero exactly like HALF_UP; `|d| >= 2^53` is already an integer.
    * Non-finite inputs take the total JVM-cast extension (NaN → 0,
    * ±Inf → Long.Max/MinValue saturation) instead of throwing — the
    * round-16 BigDecimal.valueOf threw NumberFormatException there
    * (round-16 ADVICE) and the composable ANSI chain threw
    * CAST_OVERFLOW; no fixture or declared query carries non-finite
    * embeddings, so only the exception channel changes. Pinned across
    * rounding boundaries and non-finite rows in VectorFixedPointSpec.
    */
  def quantize(x: Float, s: Long): Long = {
    val d = x.toDouble * s
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return d.toLong
    val f = Math.floor(d)
    val frac = d - f
    (if (frac > 0.5 || (frac == 0.5 && d > 0)) f + 1.0 else f).toLong
  }

  /** Per-row quantization with the legacy `transform` null semantics:
    * a null element stays null (round-16 read `getFloat` blind, which
    * NPE'd or silently read 0 on a containsNull input — round-16
    * ADVICE).
    */
  def quantizeArrData(a: ArrayData, s: Long): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) out(i) = quantize(a.getFloat(i), s)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ (quantize(emb_i) − sq_i)² over min(dims) — the zip_with/
    * aggregate chain's semantics (zip_with pads the shorter side with
    * nulls, which the composable form would turn into a null distance;
    * inputs here always agree on dims, and the spec pins the shared
    * case). A null element on either side yields null, exactly as the
    * lambda chain's `acc + null` did — boxed return so interpreted
    * and generated code share one null channel.
    */
  def d2OrNull(emb: ArrayData, sq: ArrayData, s: Long): java.lang.Long = {
    val n = math.min(emb.numElements(), sq.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i) || sq.isNullAt(i)) return null
      val d = quantize(emb.getFloat(i), s) - sq.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** The k-means assignment argmin — nearest seed by quantized
    * squared L2, ties to the smaller cid. Null when no usable seed
    * exists (empty or all-null seeds — the legacy
    * `element_at(array_sort(...), 1)` returned null there, round-16
    * returned a bogus Long.MaxValue struct) or when the embedding
    * carries a null element (every distance would be null).
    */
  def argminOrNull(emb: ArrayData, seeds: ArrayData, s: Long): InternalRow = {
    val nd = emb.numElements()
    val vq = new Array[Long](nd)
    var i = 0
    while (i < nd) {
      if (emb.isNullAt(i)) return null
      vq(i) = quantize(emb.getFloat(i), s)
      i += 1
    }
    var bestD = Long.MaxValue
    var bestC = Int.MaxValue
    var found = false
    val k = seeds.numElements()
    i = 0
    while (i < k) {
      if (!seeds.isNullAt(i)) {
        val row = seeds.getStruct(i, 2)
        val cid = row.getInt(0)
        val sq = row.getArray(1)
        val n = math.min(vq.length, sq.numElements())
        var acc = 0L
        var j = 0
        while (j < n) { val d = vq(j) - sq.getLong(j); acc += d * d; j += 1 }
        if (!found || acc < bestD || (acc == bestD && cid < bestC)) {
          bestD = acc; bestC = cid; found = true
        }
      }
      i += 1
    }
    if (!found) null else InternalRow(bestD, bestC)
  }
}

/** `vec_quantize_fx(embedding, scaleBits)` → array<long>: the fixed-
  * point quantization `transform(embedding, x -> cast(round(cast(x as
  * double) * 2^scaleBits) as long))` as one primitive loop (the
  * interpreted higher-order form paid a lambda dispatch + BigDecimal
  * boxing per element per row).
  */
case class VecQuantizeFx(child: Expression, scaleBits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  // element nullability FOLLOWS the input's, like the transform(...,
  // round) chain this replaces: a containsNull=false embedding keeps
  // the tight no-null schema, a containsNull=true one propagates
  // per-element nulls instead of misreading them as 0 (round-16 ADVICE)
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, cn) => ArrayType(LongType, containsNull = cn)
    case _ => ArrayType(LongType, containsNull = false)
  }
  override def prettyName: String = "vec_quantize_fx"
  override protected def nullSafeEval(input: Any): Any =
    VecFx.quantizeArrData(input.asInstanceOf[ArrayData], 1L << scaleBits)
  // real codegen (round-17): the round-16 CodegenFallback knocked the
  // whole containing projection out of WholeStageCodegen; the loop
  // already lives in a JVM helper, so generation is one static call
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VecFx.quantizeArrData($c, ${1L << scaleBits}L);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_l2q(embedding, sq, scaleBits)` → long: quantize + squared-L2
  * against a long vector in one pass — the per-row distance of the
  * centroid-outlier gate (q119).
  */
case class VecL2Q(left: Expression, right: Expression, scaleBits: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(LongType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  // a null ELEMENT nulls the distance even when both array handles are
  // non-null — the result is nullable regardless of input nullability
  override def nullable: Boolean = true
  override def prettyName: String = "vec_l2q"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecFx.d2OrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      1L << scaleBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("d2")
      s"""
         |java.lang.Long $r = graft.functions.VecFx.d2OrNull($a, $b, ${1L << scaleBits}L);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `l2q_argmin(embedding, seeds, scaleBits)` → struct<d2: long,
  * cid: int>: the k-means assignment argmin (q114/q117) — nearest
  * seed by quantized squared L2, ties to the smaller cid (exactly the
  * `element_at(array_sort(transform(seeds, struct(d2, cid))), 1)`
  * chain it replaces, which sorted k structs per row through
  * interpreted lambdas). Seeds are read by field ORDINAL (0: int cid,
  * 1: array<long> sq), matching both the `typedlit(Seq[(Int,
  * Seq[Long])])` literal and any struct<cid, sq> column.
  */
case class L2QArgmin(left: Expression, right: Expression, scaleBits: Int)
    extends BinaryExpression {
  // seeds arrive as typedlit(Seq[(Int, Seq[Long])]) (fields _1/_2) OR
  // a struct<cid, sq> column — the shape check is structural, by
  // field ORDINAL and type, never by name (ExpectsInputTypes would
  // reject one of the two legal spellings)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(StructType(fs), _))
          if fs.length == 2 && fs(0).dataType == IntegerType &&
            fs(1).dataType.isInstanceOf[ArrayType] &&
            fs(1).dataType.asInstanceOf[ArrayType].elementType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "l2q_argmin expects (array<float>, array<struct<cid: int, " +
          s"sq: array<bigint>>>), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("d2", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("cid", org.apache.spark.sql.types.IntegerType, nullable = false)))
  // empty/all-null seeds or a null embedding element yield a null
  // struct even when both array handles are non-null
  override def nullable: Boolean = true
  override def prettyName: String = "l2q_argmin"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecFx.argminOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      1L << scaleBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("am")
      s"""
         |InternalRow $r = graft.functions.VecFx.argminOrNull($a, $b, ${1L << scaleBits}L);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column constructors for the expressions above. */
object VectorFunctions {
  def vecDot(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))
  def rollingHash(text: Column): Column = column(RollingHash(expression(text)))
  def vecQuantizeFx(embedding: Column, scaleBits: Int): Column =
    column(VecQuantizeFx(expression(embedding), scaleBits))
  def vecL2Q(embedding: Column, sq: Column, scaleBits: Int): Column =
    column(VecL2Q(expression(embedding), expression(sq), scaleBits))
  def l2qArgmin(embedding: Column, seeds: Column, scaleBits: Int): Column =
    column(L2QArgmin(expression(embedding), expression(seeds), scaleBits))
}
