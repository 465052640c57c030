package graft.core

import java.math.BigInteger

/** JVM twin of [[Tables.scaledLongSum]] for the learners whose driver loops
  * reduce over cached primitive arrays (SGD, AdaBoost, Softmax): `n` exact
  * sums of round(term·10¹²), partition-order independent because integer
  * addition is associative. Each slot accumulates in a long and spills into
  * a BigInteger before it can overflow, so a sum is exact at any row count;
  * the envelope is per term only (|term|·10¹² ≤ 2⁶², i.e. |term| ≤ 4.6·10⁶).
  * [[result]] converts BigInteger → double (correctly rounded), then
  * divides by 10¹² — the same two roundings as scaledLongSum and
  * SqlGen.sqlScaledLongSum. Build one instance per partition and combine
  * partitions with [[merge]] (e.g. in `treeReduce`). */
final class ScaledLongSums(n: Int) extends Serializable {
  private val acc = new Array[Long](n)
  private val big = Array.fill(n)(BigInteger.ZERO)

  /** Adds round(v·10¹²) to slot i. */
  def add(i: Int, v: Double): Unit = addScaled(i, ScaledLongSums.scale(v))

  /** Adds an already-scaled term ([[ScaledLongSums.scale]]) to slot i. */
  def addScaled(i: Int, k: Long): Unit = {
    acc(i) += k
    if (acc(i) > ScaledLongSums.SpillAt || acc(i) < -ScaledLongSums.SpillAt) spill(i)
  }

  private def spill(i: Int): Unit = {
    big(i) = big(i).add(BigInteger.valueOf(acc(i)))
    acc(i) = 0L
  }

  /** Adds `o`'s sums into this one and returns it. */
  def merge(o: ScaledLongSums): ScaledLongSums = {
    var i = 0
    while (i < n) { spill(i); o.spill(i); big(i) = big(i).add(o.big(i)); i += 1 }
    this
  }

  /** The n sums, each Σround(term·10¹²) correctly rounded to double, ÷ 10¹². */
  def result: Array[Double] = {
    var i = 0
    while (i < n) { spill(i); i += 1 }
    big.map(_.doubleValue() / 1e12)
  }
}

object ScaledLongSums {
  private val SpillAt = Long.MaxValue >> 1

  /** round(v·10¹²) HALF_UP away from zero, as Spark's round() and DuckDB's
    * ROUND. Math.round (post-JDK-8041734) is exact half-up toward +∞ on
    * the double's real value — no floor(t+0.5) double-rounding bump at
    * 0.49999999999999994 and no ties-to-even drift at |t| ≥ 2⁵² — and
    * negating for t < 0 turns it into HALF_UP away from zero. (Residual
    * divergence class: Spark rounds the shortest decimal repr, DuckDB's
    * ROUND goes through floating-point ×10^s, so a product within 1 ulp
    * of an exact .5 grid line can still split engines; callers pre-scale
    * terms to [−1, 1], which keeps per-term error far below the grid.) */
  def scale(v: Double): Long = {
    val t = v * 1e12
    if (t >= 0) Math.round(t) else -Math.round(-t)
  }
}
