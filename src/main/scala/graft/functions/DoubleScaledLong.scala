package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `UnscaledValue(CAST(x AS DECIMAL(precision,4)))` as ONE compact
  * codegen call — the per-row workhorse of the [[LimbSum]] family.
  *
  * Semantics are EXACTLY the Cast's (LimbSumSpec pins bitwise parity,
  * including the overflow edge): the implementation first tries a
  * self-verifying fast path, `m = rint(x·10⁴)`, accepted only when
  * (a) `m/10⁴ == x` bitwise and (b) `|x| ≤ bound` (10^10 wide, 10^6
  * narrow). Proof the fast path equals the Cast when taken: (b) keeps
  * `m` < 2^53 (every long in range is an exact double and the multiply
  * / divide are single correctly-rounded ops) and makes one scale-4
  * unit (10⁻⁴) ≫ ulp(x), so at most ONE integer m satisfies (a); for
  * that m, x is the nearest double to the 4-dp decimal m·10⁻⁴, hence
  * x's shortest decimal representation — what `BigDecimal.valueOf`
  * inside the Cast parses — rounds HALF_UP at scale 4 to exactly m.
  * NaN/±Inf fail (b) (NaN fails any ≤), >4-dp shortest representations
  * and rint tie-break hazards fail (a); all of those fall back to the
  * reference Decimal path, which also preserves the Cast's
  * overflow-to-null (non-ANSI) or overflow-error (ANSI) behaviour.
  *
  * Why not the same tree in plain expressions: inlined ~9× into a wide
  * aggregate update (q01), the branchy form pushed the generated
  * update method past the JVM's 8000-byte JIT compile threshold — the
  * hot loop ran interpreted and q01 got SLOWER. One static call keeps
  * the caller tiny. (Measured: plain-expression form 1.43 s vs 1.21 s
  * baseline on q01; this form is the one benchmarked in
  * OPTIMIZATION_r18.md.)
  */
case class DoubleScaledLong(child: Expression, precision: Int,
    ansi: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  // overflow → null in non-ANSI mode even for non-null input
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_u4_$precision"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_u4 expects a double, got ${other.simpleString}")
  }

  private val bound: Double = if (precision >= 18) 1e10 else 1e6

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      val m = LimbMath.tryFast(d, bound)
      if (m != Long.MinValue) m else LimbMath.slow(d, precision, ansi)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("m")
      val boxed = ctx.freshName("boxed")
      s"""
         |long $m = graft.functions.LimbMath.tryFast($c, ${bound}D);
         |if ($m != Long.MIN_VALUE) {
         |  ${ev.value} = $m;
         |} else {
         |  java.lang.Long $boxed =
         |    graft.functions.LimbMath.slow($c, $precision, $ansi);
         |  if ($boxed == null) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $boxed.longValue(); }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LimbMath {

  /** Self-verifying fast conversion; Long.MinValue = "not proven safe,
    * take the slow path" (unreachable as a real result: the bound caps
    * legitimate fast-path outputs at 10^14). */
  def tryFast(d: Double, bound: Double): Long = {
    val m = Math.rint(d * 1e4)
    if (Math.abs(d) <= bound && m / 1e4 == d) m.toLong else Long.MinValue
  }

  /** Reference path: exactly Spark's `Cast(double, DecimalType(p,4))`
    * (toString-based BigDecimal, HALF_UP at scale 4) + UnscaledValue,
    * with the Cast's ANSI/non-ANSI overflow behaviour. */
  def slow(d: Double, precision: Int, ansi: Boolean): java.lang.Long = {
    val dec = org.apache.spark.sql.types.Decimal(d)
    if (dec.changePrecision(precision, 4)) {
      java.lang.Long.valueOf(dec.toUnscaledLong)
    } else if (ansi) {
      // Raise the Cast's own error (SparkArithmeticException,
      // NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION) by evaluating the
      // Cast: Spark's error builders are private[sql].
      Cast(Literal(d), DecimalType(precision, 4), None, EvalMode.ANSI).eval()
      throw new IllegalStateException(s"Cast accepted $d as Decimal($precision, 4)")
    } else null
  }
}
