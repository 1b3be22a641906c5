package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.{ColumnBridge, ExactRound}

/** Exact HALF_UP rounding of doubles: the same bits as Spark's
  * `round(double, scale)`, without its per-row `BigDecimal`.
  *
  * Spark rounds a double `x` as
  * `BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue()`: the
  * decimal `d` that `Double.toString(x)` prints is rounded to an integer
  * `n = HALF_UP(d·10^s)`, and the result is the double nearest `n/10^s`.
  * Every key the forecast pipeline joins or groups on goes through it
  * (six calls per fact row), and `Double.toString` dominates the cost.
  *
  * [[roundHalfUp]] gets `n` from the product `y = x·10^s` instead. `d`
  * is within half an ulp of `x`, and `y` within half an ulp of `x·10^s`,
  * so `|d·10^s − y| < 1.5·ulp(y) ≤ 1.5·2^-52·|y|`. When `y` lies more than
  * `4·2^-52·|y|` from the nearest `k + 0.5`, `d·10^s` lies in the same
  * open interval `(k − 0.5, k + 0.5)` as `y`, so `n = rint(y)`. The same
  * test bounds `|y| < 2^49`, so `n` is exact, and `n / 10^s` (both
  * operands exact doubles for `s ≤ 22`) is the correctly rounded
  * quotient, which is also what `BigDecimal.doubleValue` returns. A zero
  * comes out `+0.0`, as `BigDecimal` has no negative zero. Everything
  * else (values near a tie, `|y| ≥ 2^49`, NaN, ±Inf) takes Spark's own
  * `BigDecimal` path.
  * `GraftRoundOpsSpec` compares the two bit for bit.
  */
object GraftRoundOps {

  /** 10^0 … 10^22: every entry is an exact double. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10.0)

  /** 2^-50: four ulps of `|y|`, relative. */
  private val TieMargin: Double = java.lang.Math.scalb(1.0, -50)

  /** Scales the kernel covers; other scales keep Spark's `Round`. */
  def exactScale(scale: Int): Boolean = scale >= 0 && scale < Pow10.length

  /** `round(x, scale)` as Spark computes it for a DoubleType `x`;
    * `scale` must satisfy [[exactScale]]. */
  def roundHalfUp(x: Double, scale: Int): Double = {
    val p = Pow10(scale)
    val y = x * p
    val r = java.lang.Math.rint(y)
    // false for NaN and ±Inf as well (y − r is NaN there)
    if (0.5 - java.lang.Math.abs(y - r) > java.lang.Math.abs(y) * TieMargin) r / p + 0.0
    else viaBigDecimal(x, scale)
  }

  /** Spark's `Round` evaluation for DoubleType, verbatim. */
  private def viaBigDecimal(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Drop-in for `functions.round(c, scale)`: same value, type, nullability
    * and column name. DoubleType inputs run [[roundHalfUp]]; any other
    * input type (float, decimal, integral) keeps Spark's `Round`. */
  def round(c: Column, scale: Int): Column =
    ColumnBridge.column(ExactRound(ColumnBridge.expression(c), Literal(scale)))
}
