package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, LongType}

/** Whole-stage-codegen `double → ⌊round_half_up(x, 6 dp)·10⁶⌋` (the
  * unscaled long of `CAST(x AS DECIMAL(18,6))`), null on NaN/±Inf or
  * |x| ≥ 10¹².
  *
  * Why it exists: every oracle-checked aggregate sums values exactly by
  * first rounding them to 6 decimal places the way a decimal cast does
  * (see [[graft.functions.Det.dsum]]). Spark's double→decimal cast goes
  * through `Double.toString` + BigDecimal per row — measured ~60% of an
  * entire 4-sum aggregation's runtime at sf0.1 (BASELINE.md, round 2:
  * decimal sum 1.6 s → 0.38 s on the 4-sum q01 shape; the probe that
  * measured it is in commit 3829a07 under `src/main/scala/graft/tools`).
  * This expression gets the identical result with primitive arithmetic:
  *
  *  - FAST PATH: `p = x·10⁶` rounds to nearest unless `p` lies within a
  *    few ulps of a `…+0.5` rounding boundary. The decimal (shortest
  *    string) value of `x` differs from its binary value by ≤ ulp(x)/2,
  *    and the product adds ≤ ulp(p)/2 more, so an 8·ulp(p) guard band
  *    is conservative: outside the band, floor/ceil of `p` equals the
  *    exact decimal rounding.
  *  - SLOW PATH (boundary band, |x| ≥ 2⁵²/10⁶, non-finite): defers to
  *    `Decimal(x).changePrecision(18, 6)` — the exact code path of
  *    Spark's `Cast`, so ties (HALF_UP, away from zero) and overflow
  *    agree with the cast bit-for-bit by construction.
  *
  * `ToFixed6Spec` property-checks fast≡slow over adversarial doubles
  * (boundary neighborhoods included) and over every dataset column that
  * feeds a `dsum`.
  */
case class ToFixed6(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fixed6 expects double, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(x: Any): Any = {
    val v = ToFixed6.compute(x.asInstanceOf[Double])
    if (v == ToFixed6.NullSentinel) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ToFixed6.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, x => {
      val v = ctx.freshName("f6")
      s"""
         |long $v = $cls.compute($x);
         |if ($v == java.lang.Long.MIN_VALUE) { ${ev.isNull} = true; }
         |else { ${ev.value} = $v; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ToFixed6 =
    copy(child = newChild)

  override def prettyName: String = "fixed6"
}

object ToFixed6 {
  /** Null marker on the primitive return path (valid outputs are
    * |v| < 10¹⁸, so MinValue is unreachable). Keeps the per-row call
    * allocation-free — no boxed Long in the codegen'd loop. */
  final val NullSentinel: Long = Long.MinValue

  // Above this, ulp(p) ≥ 1 and the fractional position of p is
  // meaningless — and (long) conversion could clip. 2^52.
  private final val FastLimit: Double = 4.503599627370496e15

  /** Identical result to `CAST(x AS DECIMAL(18,6))`'s unscaled long
    * (or [[NullSentinel]] where the cast yields null). Static and
    * primitive so the JIT inlines it into the enclosing
    * whole-stage-codegen loop. */
  def compute(x: Double): Long = {
    val p = x * 1e6
    if (java.lang.Math.abs(p) < FastLimit) { // excludes NaN/Inf too
      val fl = java.lang.Math.floor(p)
      val fr = p - fl
      val m = 8.0 * java.lang.Math.ulp(p)
      if (fr > 0.5 + m) fl.toLong + 1L
      else if (fr < 0.5 - m) fl.toLong
      else slow(x)
    } else slow(x)
  }

  /** Spark's own cast path: `Decimal(double)` parses the shortest
    * decimal representation; `changePrecision(18, 6)` applies HALF_UP
    * and signals overflow. This IS what `Cast(_, DecimalType(18,6))`
    * executes, so the boundary/tie/overflow semantics cannot drift. */
  private def slow(x: Double): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return NullSentinel
    val d = Decimal(x)
    if (d.changePrecision(18, 6)) d.toUnscaledLong else NullSentinel
  }
}
