package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryExpression,
  CheckOverflowInSum, Coalesce, Expression, If, IsNull, Literal, Or, QuaternaryExpression,
  UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, LongType}

/** Native exact-decimal sum on a fixed-width 128-bit buffer: the value
  * equal to Spark's `sum` over a decimal, without a `java.math.BigDecimal`
  * per row.
  *
  * Spark sums a DECIMAL(p,s) into a DECIMAL(p+10,s) buffer. Its own
  * `DecimalAggregates` rule moves that sum onto the unscaled LONG only
  * when p + 10 <= 18; every wider buffer is a variable-width decimal that
  * each row reads, adds and re-encodes as a BigDecimal. This aggregate
  * keeps the unscaled sum as two LONG limbs (hi, lo) plus an is-empty
  * flag — all fixed-width, so the keyed aggregate stays a codegen'd
  * HashAggregate — and builds one Decimal per group at the end.
  *
  * Two forms:
  * - `graft_exact_sum(x)`: x is DECIMAL(p,s) with 9 <= p <= 18, summed to
  *   DECIMAL(p+10,s); or x is LONG, summed to DECIMAL(38,0) (the value of
  *   `sum(CAST(x AS DECIMAL(38,0)))`).
  * - `graft_exact_sum(a, b)`: the sum of the exact products a * b, where a
  *   and b are each LONG (as DECIMAL(20,0)) or DECIMAL(p<=18,s). The result
  *   type is `sum(a * b)`'s: the product type (p1+p2+1, s1+s2), bounded to
  *   38 digits, widened by 10 digits. One `Math.multiplyHigh` per row
  *   gives the full 128-bit product of the unscaled operands, which always
  *   fits (|a·b| <= 2^126 < 10^38).
  *
  * Overflow matches `sum`: Spark writes every running partial sum into
  * its DECIMAL(P,s) buffer and nulls it there once it needs more than P
  * digits, and the null sticks. Here every add (per row and per merge)
  * checks |sum| <= 10^P - 1 and a 128-bit signed overflow, and an
  * overflowed buffer holds a null hi limb. At the end an overflowed group
  * raises (ANSI mode) or yields null; an empty or all-null input yields
  * null.
  *
  * Out of scope, by type check: a DECIMAL(p<=8) single sum or a product of
  * precision <= 8 (built-in `sum` already runs those on a LONG, with its
  * own overflow rule), and a product whose bounded type would round its
  * scale (p1+p2+1 > 38 with s1+s2 > 6).
  */
case class ExactSum(
    override val children: Seq[Expression],
    nullOnOverflow: Boolean = !SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate {

  override def prettyName: String = ExactSum.NAME
  override def nullable: Boolean = true

  /** (precision, scale) an operand contributes, or None if unsupported. */
  private def operand(e: Expression): Option[(Int, Int)] = e.dataType match {
    case LongType => Some((20, 0))
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      Some((d.precision, d.scale))
    case _ => None
  }

  /** (precision, scale) of the summed term: x itself, or the product. */
  private def term: Option[(Int, Int)] = children match {
    case Seq(x) => x.dataType match {
      case LongType => Some((38, 0))
      case d: DecimalType if d.precision >= 9 && d.precision <= Decimal.MAX_LONG_DIGITS =>
        Some((d.precision, d.scale))
      case _ => None
    }
    case Seq(a, b) => (operand(a), operand(b)) match {
      case (Some((p1, s1)), Some((p2, s2))) =>
        val (p, s) = (p1 + p2 + 1, s1 + s2)
        if (p <= DecimalType.MAX_PRECISION) Some((p, s)).filter(_._1 >= 9)
        else if (s <= 6) Some((DecimalType.MAX_PRECISION, s))
        else None
      case _ => None
    }
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (term.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects DECIMAL(9..18,s) or BIGINT, or two BIGINT/DECIMAL(<=18,s) " +
        "operands whose product has at least 9 digits and no scale rounding; got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override lazy val dataType: DecimalType = {
    val (p, s) = term.getOrElse((DecimalType.MAX_PRECISION, 0))
    DecimalType(math.min(p + 10, DecimalType.MAX_PRECISION), s)
  }

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def unscaled(e: Expression): Expression = e.dataType match {
    case _: DecimalType => UnscaledValue(e)
    case _ => e
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val (a, b) = children match {
      case Seq(x) => (unscaled(x), Literal(1L))
      case Seq(x, y) => (unscaled(x), unscaled(y))
    }
    // A null term adds 0. No If around the adds: the operands then sit
    // where subexpression elimination sees them, so each row evaluates
    // an input (often a double -> decimal cast) once, not per branch.
    def limb(hiLimb: Boolean) = Coalesce(Seq(Int128Product(a, b, hiLimb), Literal(0L)))
    val (xHi, xLo) = (limb(hiLimb = true), limb(hiLimb = false))
    val nullable = children.filter(_.nullable)
    val stillEmpty =
      if (nullable.isEmpty) Literal(false)
      else And(isEmpty, nullable.map(IsNull(_): Expression).reduce(Or(_, _)))
    Seq(Int128AddHi(hi, lo, xHi, xLo, dataType.precision), Int128AddLo(lo, xLo), stillEmpty)
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Int128AddHi(hi.left, lo.left, hi.right, lo.right, dataType.precision),
    Int128AddLo(lo.left, lo.right),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, dataType),
      CheckOverflowInSum(Int128ToDecimal(hi, lo, dataType), dataType, nullOnOverflow, null))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactSum = copy(children = newChildren)
}

object ExactSum {
  val NAME = "graft_exact_sum"

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      NAME, exprs => ExactSum(exprs), "built-in")

  def exactSum(cs: Column*): Column = {
    register(SparkSession.active)
    call_function(NAME, cs: _*)
  }
}

/** Signed 128-bit integers as (hi, lo) LONG limbs: the value is
  * hi · 2^64 + unsigned(lo). */
object Int128 {
  private val Mask64 = (BigInt(1) << 64) - 1

  def toBigInt(hi: Long, lo: Long): BigInt = (BigInt(hi) << 64) + (BigInt(lo) & Mask64)

  def hiOf(v: BigInt): Long = (v >> 64).toLong
  def loOf(v: BigInt): Long = v.toLong

  /** 10^digits - 1, the largest unscaled magnitude of a DECIMAL(digits). */
  def maxAbs(digits: Int): BigInt = BigInt(10).pow(digits) - 1

  /** The DECIMAL(precision, scale) value, built as Spark's UnsafeRow reads
    * a wide decimal back (BigDecimal-backed). */
  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal = {
    val unscaled: BigInteger = toBigInt(hi, lo).bigInteger
    Decimal(new JBigDecimal(unscaled, scale), precision, scale)
  }
}

/** One limb of the exact 128-bit product of two LONGs. */
case class Int128Product(left: Expression, right: Expression, hiLimb: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val p = BigInt(a.asInstanceOf[Long]) * BigInt(b.asInstanceOf[Long])
    if (hiLimb) Int128.hiOf(p) else Int128.loOf(p)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      if (hiLimb) s"java.lang.Math.multiplyHigh($a, $b)" else s"$a * $b")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Low limb of a 128-bit sum: wraps; the carry is [[Int128AddHi]]'s. */
case class Int128AddLo(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    a.asInstanceOf[Long] + b.asInstanceOf[Long]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$a + $b")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** High limb of the 128-bit sum (aHi, aLo) + (bHi, bLo), or null when
  * either input is null (already overflowed) or the sum overflows 128
  * bits or leaves [-(10^digits - 1), 10^digits - 1]. */
case class Int128AddHi(aHi: Expression, aLo: Expression, bHi: Expression,
    bLo: Expression, digits: Int) extends QuaternaryExpression {
  override def first: Expression = aHi
  override def second: Expression = aLo
  override def third: Expression = bHi
  override def fourth: Expression = bLo
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private lazy val max = Int128.maxAbs(digits)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val Seq(ah, al, bh, bl) = vs.map(_.asInstanceOf[Long])
      val r = Int128.toBigInt(ah, al) + Int128.toBigInt(bh, bl)
      if (r.abs > max) null else Int128.hiOf(r)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (maxHi, maxLo) = (Int128.hiOf(max), Int128.loOf(max))
    val (minHi, minLo) = (Int128.hiOf(-max), Int128.loOf(-max))
    nullSafeCodeGen(ctx, ev, (ah, al, bh, bl) => {
      val rl = ctx.freshName("rLo")
      val rh = ctx.freshName("rHi")
      val cmpMax = ctx.freshName("cmpMax")
      val cmpMin = ctx.freshName("cmpMin")
      // No generated line may start with '|': the enclosing operator's
      // stripMargin would eat it.
      s"""
        |long $rl = $al + $bl;
        |long $rh = $ah + $bh + (java.lang.Long.compareUnsigned($rl, $al) < 0 ? 1L : 0L);
        |int $cmpMax = $rh == ${maxHi}L ?
        |  java.lang.Long.compareUnsigned($rl, ${maxLo}L) : java.lang.Long.compare($rh, ${maxHi}L);
        |int $cmpMin = $rh == ${minHi}L ?
        |  java.lang.Long.compareUnsigned($rl, ${minLo}L) : java.lang.Long.compare($rh, ${minHi}L);
        |${ev.isNull} = (($ah ^ $rh) & ($bh ^ $rh)) < 0L || $cmpMax > 0 || $cmpMin < 0;
        |${ev.value} = $rh;
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(first: Expression, second: Expression,
      third: Expression, fourth: Expression): Expression =
    copy(aHi = first, aLo = second, bHi = third, bLo = fourth)
}

/** The exact sum's value as DECIMAL, from (hi, lo); null when hi is (an
  * overflowed sum, which `CheckOverflowInSum` then raises or keeps). */
case class Int128ToDecimal(left: Expression, right: Expression, dataType: DecimalType)
    extends BinaryExpression {
  override protected def nullSafeEval(h: Any, l: Any): Any =
    Int128.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long],
      dataType.precision, dataType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"graft.functions.Int128.toDecimal($h, $l, ${dataType.precision}, ${dataType.scale})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
