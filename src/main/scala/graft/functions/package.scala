package graft

package object functions {

  /** Driver- and task-side mirror of Spark's `round(x, 6)` on doubles
    * (`RoundBase`): NaN and ±∞ pass through, anything else rounds HALF_UP
    * on its shortest decimal representation (`BigDecimal(Double)` goes
    * through `Double.toString`). The DuckDB oracle's round() matches the
    * same convention; rint (half-even) or %.6f would be a third one.
    */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
