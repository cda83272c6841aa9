package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Exact decimal-parity sums on a two-limb long buffer.
  *
  * The oracle contract needs order-independent EXACT sums
  * ([[Parity.dsum]] family). Spark's `sum(DECIMAL(18,4))` buffers at
  * DECIMAL(28,4): every per-row update runs the Decimal add + precision
  * check path. But the values being summed are exact scaled integers —
  * `UnscaledValue(CAST(x AS DECIMAL(18,4)))` < 10^18 always fits a
  * long — so the sum can run on plain long arithmetic if overflow is
  * handled. This aggregate keeps the running total as TWO longs,
  * `total = hi·10^18 + lo`, normalizing `lo` back under 8·10^18 with a
  * carry whenever an update pushes it past (every row and every merged
  * buffer is first split by a truncated div/rem into a `hi` part and a
  * remainder < 10^18, so `lo` never wraps for ANY long input; see the
  * invariant notes inline). All buffer math is whole-stage-codegen
  * long arithmetic — no BigDecimal anywhere.
  *
  * Exactness: integer limb addition is the same abelian-group sum as
  * decimal addition of the identical unscaled values — bit-identical
  * final totals, any ordering, any partitioning. The final double
  * reconstruction performs the IDENTICAL IEEE roundings as
  * [[Parity.decToDouble]] over the decimal sum: `floor = hi·(10^18/m) +
  * floorDiv(lo, m)` is one exact long, cast long→double (same single
  * rounding as `CAST(floor(dec) AS BIGINT) AS DOUBLE`), and the
  * fraction `pmod(lo, m)/m` divides two exactly-representable doubles —
  * correctly rounded, same value as `Decimal(frac).toDouble` (which is
  * also correctly rounded). `LimbSumSpec` pins bitwise equality against
  * the decimal forms on fixture data and adversarial synthetics.
  *
  * Range: the final long floor requires |sum| < 2^63/10^(18-scale)
  * value units (9.2·10^18 at scale 4) — the SAME bound where the
  * decimal path's `floor(x).cast(bigint)` stops being defined, so the
  * swap changes nothing at any reachable scale (100 TB of 10^8-unit
  * rows sums to ~10^20 unscaled = 10^16 value units, 400× inside).
  *
  * Emit modes: `EmitDouble` reconstructs the [[Parity.decToDouble]]
  * double; `EmitStruct` emits the raw limbs for multi-level
  * re-aggregation (feed back through a struct-child LimbSum — used by
  * the eager-aggregation queries that sum partial sums); `EmitU4`
  * emits the scale-4 unscaled long, truncated toward zero — the
  * `(sum(dec(x)) · 10^4) CAST LONG` micro-unit idiom.
  */
case class LimbSum(child: Expression, scale: Int, emit: Int)
  extends DeclarativeAggregate {
  import LimbSum._

  private def structIn: Boolean = child.dataType.isInstanceOf[StructType]

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_limb_sum"

  override def dataType: DataType = emit match {
    case EmitStruct => StructDT
    case EmitU4     => LongType
    case _          => DoubleType
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case s: StructType if s.length == 2 && s.fields.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_limb_sum expects a bigint (unscaled) or (hi,lo) struct child, got ${other.simpleString}")
  }

  private lazy val lo = AttributeReference("limb_lo", LongType, nullable = false)()
  private lazy val hi = AttributeReference("limb_hi", LongType, nullable = false)()
  private lazy val seen = AttributeReference("limb_seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, hi, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  // Carry decision after adding a remainder r to lo: stored |lo| ≤
  // Thresh always (post-carry |lo| ≤ max(Thresh, |lo+r| − Carry) ≤
  // Thresh given |r| < Carry), so |lo+r| < 9e18 never wraps.
  private def carryOf(lo1: Expression): Expression =
    If(GreaterThan(lo1, Literal(Thresh)), Literal(1L),
      If(LessThan(lo1, Literal(-Thresh)), Literal(-1L), Literal(0L)))

  // Fold limb pair (bLo, bHi) into buffer (aLo, aHi); bLo may be any
  // long (a row, or another buffer's lo ≤ Thresh), so pre-reduce it by
  // a truncated div/rem split (exact identity for any signs) before
  // the add. The one update path for rows and buffers alike.
  private def fold(aLo: Expression, aHi: Expression,
      bLo: Expression, bHi: Expression, seenExpr: Expression): Seq[Expression] = {
    val rq = IntegralDivide(bLo, Literal(Carry))
    val rr = Subtract(bLo, Multiply(rq, Literal(Carry)))
    val lo1 = Add(aLo, rr)
    val c = carryOf(lo1)
    Seq(
      Subtract(lo1, Multiply(c, Literal(Carry))),
      Add(Add(aHi, Add(bHi, rq)), c),
      seenExpr)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    def orZero(e: Expression) = Coalesce(Seq(e, Literal(0L)))
    val (bLo, bHi) =
      if (structIn) (orZero(GetStructField(child, 1, Some("lo"))),
        orZero(GetStructField(child, 0, Some("hi"))))
      else (orZero(child), Literal(0L))
    fold(lo, hi, bLo, bHi, Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    fold(lo.left, hi.left, lo.right, hi.right, Or(seen.left, seen.right))

  override lazy val evaluateExpression: Expression = emit match {
    case EmitStruct =>
      If(seen,
        CreateNamedStruct(Seq(Literal("hi"), hi, Literal("lo"), lo)),
        Literal.create(null, StructDT))
    case EmitU4 =>
      val out =
        if (scale == 4) Add(Multiply(hi, Literal(Carry)), lo)
        else {
          val d = pow10(scale - 4)
          val k = Pmod(lo, Literal(d))
          val f = Add(Multiply(hi, Literal(Carry / d)),
            IntegralDivide(Subtract(lo, k), Literal(d)))
          // floor → trunc adjustment (+1 when negative and fractional):
          // matches CAST(dec AS BIGINT) truncation toward zero.
          Add(f, If(And(LessThan(f, Literal(0L)),
            Not(EqualTo(k, Literal(0L)))), Literal(1L), Literal(0L)))
        }
      If(seen, out, Literal.create(null, LongType))
    case _ =>
      val m = pow10(scale)
      val k = Pmod(lo, Literal(m))
      val floorQ = Add(Multiply(hi, Literal(Carry / m)),
        IntegralDivide(Subtract(lo, k), Literal(m)))
      If(seen,
        Add(Cast(floorQ, DoubleType),
          Divide(Cast(k, DoubleType), Literal(m.toDouble))),
        Literal.create(null, DoubleType))
  }
}

object LimbSum {
  /** lo-limb weight: total = hi·Carry + lo. A multiple of every emit
    * scale's 10^s so mod/div distribute over the limbs. */
  val Carry: Long = 1000000000000000000L
  /** Carry threshold: stored |lo| ≤ Thresh. Any long row or buffer lo
    * is split by `fold`'s div/rem into a remainder |r| < Carry before
    * it is added, so |lo + r| < Thresh + Carry = 9e18 never wraps. */
  val Thresh: Long = 8000000000000000000L

  val EmitDouble = 0
  val EmitStruct = 1
  val EmitU4 = 2

  val StructDT: StructType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  def pow10(n: Int): Long = {
    require(n >= 0 && n <= 18, s"pow10($n)")
    (0 until n).foldLeft(1L)((a, _) => a * 10)
  }

  // ------------------------------------------------------------------
  // Guarded fused per-row products (expression land — used by the
  // GraftExtensions builders). Every guard is an overflow-ESCALATION:
  // inputs beyond the proven-safe long range raise loudly instead of
  // silently wrapping. Bounds (see LimbSumSpec):
  //   rev_u8:    |price| ≤ 9.2e8  (|up| ≤ 9.2e12), |1−disc| ≤ 10   → |up·uq| ≤ 9.2e17
  //   charge_u6: |price| ≤ 2.3e6  (|up| ≤ 2.3e10), |1−d|,|1+t| ≤ 2 → |up·uq·ut| ≤ 9.2e18
  // Fixture maxima: price 1.05e5, disc 0.1, tax 0.08 — 2 to 4 orders
  // of magnitude inside the bounds at any SF (uniform value domains).

  def u4Expr(x: Expression): Expression = DoubleScaledLong(x, 18)

  def u4nExpr(x: Expression): Expression = DoubleScaledLong(x, 12)

  private def guarded(nullOf: Seq[Expression], ok: Expression,
      prod: Expression, name: String): Expression =
    If(nullOf.map(IsNull(_): Expression).reduce(Or),
      Literal.create(null, LongType),
      If(ok, prod,
        Cast(new AssertTrue(ok,
          Literal(s"$name: input beyond the fused-long overflow bound")), LongType)))

  /** Unscaled (scale 8) of `dec(price) · (1 − dec4(disc))` — exactly
    * [[Parity.revenue]]'s decimal product, on longs. */
  def revU8Expr(price: Expression, disc: Expression): Expression = {
    val up = u4Expr(price)
    val uq = Subtract(Literal(10000L), u4nExpr(disc))
    guarded(Seq(up, uq),
      And(LessThanOrEqual(Abs(up), Literal(9200000000000L)),
        LessThanOrEqual(Abs(uq), Literal(100000L))),
      Multiply(up, uq), "graft_rev_u8")
  }

  /** Unscaled (scale 8) of `dec(a) · dec4(b)` (e.g. price · discount). */
  def prodU8Expr(a: Expression, b: Expression): Expression = {
    val ua = u4Expr(a)
    val ub = u4nExpr(b)
    guarded(Seq(ua, ub),
      And(LessThanOrEqual(Abs(ua), Literal(9200000000000L)),
        LessThanOrEqual(Abs(ub), Literal(100000L))),
      Multiply(ua, ub), "graft_prod_u8")
  }

  /** Unscaled (scale 6) of `revenue(price, disc) · (1 + dec4(tax))`,
    * HALF_UP-rounded from the exact scale-12 product — exactly the
    * DECIMAL(38,6) Spark produces for the q01 charge term (the decimal
    * type system caps the 12-digit ideal scale at 6; Decimal
    * changePrecision rounds HALF_UP; so does this). */
  def chargeU6Expr(price: Expression, disc: Expression, tax: Expression): Expression = {
    val up = u4Expr(price)
    val uq = Subtract(Literal(10000L), u4nExpr(disc))
    val ut = Add(Literal(10000L), u4nExpr(tax))
    val p12 = Multiply(Multiply(up, uq), ut)
    val rounded = If(GreaterThanOrEqual(p12, Literal(0L)),
      IntegralDivide(Add(p12, Literal(500000L)), Literal(1000000L)),
      UnaryMinus(IntegralDivide(Add(UnaryMinus(p12), Literal(500000L)),
        Literal(1000000L))))
    guarded(Seq(up, uq, ut),
      And(And(LessThanOrEqual(Abs(up), Literal(23000000000L)),
        LessThanOrEqual(Abs(uq), Literal(20000L))),
        LessThanOrEqual(Abs(ut), Literal(20000L))),
      rounded, "graft_charge_u6")
  }

  // ------------------------------------------------------------------
  // Column API (registers the SQL functions idempotently; Column
  // construction happens on the driver where a session is active).

  private def withReg[A](f: => A): A = {
    graft.plans.GraftExtensions.register(org.apache.spark.sql.SparkSession.active)
    f
  }

  /** Unscaled long of `CAST(x AS DECIMAL(18,4))`. */
  def u4(c: Column): Column = withReg(call_function("graft_u4", c))

  /** Unscaled long of `CAST(x AS DECIMAL(12,4))` (narrow factors). */
  def u4n(c: Column): Column = withReg(call_function("graft_u4n", c))

  /** Order-independent exact sum of scale-`s` unscaled longs → the
    * [[Parity.decToDouble]] double. */
  def limbSum(c: Column, s: Int): Column =
    withReg(call_function("graft_limb_sum", c, lit(s)))

  /** Partial limb sum → (hi, lo) struct for re-aggregation. */
  def limbStruct(c: Column): Column =
    withReg(call_function("graft_limb_struct", c))

  /** Re-aggregate (hi, lo) structs → (hi, lo) struct. */
  def limbResum(st: Column): Column =
    withReg(call_function("graft_limb_resum", st))

  /** Re-aggregate (hi, lo) structs → final double at scale `s`. */
  def limbFin(st: Column, s: Int): Column =
    withReg(call_function("graft_limb_fin", st, lit(s)))

  /** Exact sum → scale-4 unscaled long (micro-unit idiom), truncated
    * toward zero like `CAST(sum·10^4 AS BIGINT)`. */
  def limbU4(c: Column, s: Int): Column =
    withReg(call_function("graft_limb_u4", c, lit(s)))

  /** Fused `price·(1−disc)` revenue term, scale-8 unscaled long. */
  def revU8(price: Column, disc: Column): Column =
    withReg(call_function("graft_rev_u8", price, disc))

  /** Fused `dec(a)·dec4(b)` product, scale-8 unscaled long. */
  def prodU8(a: Column, b: Column): Column =
    withReg(call_function("graft_prod_u8", a, b))

  /** Fused q01 charge term, scale-6 unscaled long. */
  def chargeU6(price: Column, disc: Column, tax: Column): Column =
    withReg(call_function("graft_charge_u6", price, disc, tax))
}
